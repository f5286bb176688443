"""Training-data-pipeline operators over ``documents`` / ``embeddings``:
dedup, similarity search, text analysis, multimodal plumbing.

Oracle-matched where the computation is engine-portable (md5, exact
set Jaccard, regexp counting, cosine); probabilistic/sketching variants
(MinHash-LSH, SimHash, random-hyperplane ANN) are deterministic but use
engine-specific hashes → rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from reflinkcep_spark.functions import dedup, multimodal, sampling, similarity, text
from reflinkcep_spark.sources import load_table
from reflinkcep_spark.sources.tables import spread


def _docs(spark, sf_dir):
    # documents is CPU-bound work (shingles/hashes) over a narrow scan —
    # spread it across cores; no-op once the scan has enough splits.
    return spread(load_table(spark, sf_dir, "documents"))


def _embs(spark, sf_dir):
    return spread(load_table(spark, sf_dir, "embeddings"))


# --- dedup ------------------------------------------------------------

def dedup_exact_groups(spark, sf_dir):
    return dedup.exact_groups(_docs(spark, sf_dir))


SQL_EXACT_GROUPS = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
       COUNT(*) - 1 AS dup_count
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, n=3)


SQL_NGRAM_JACCARD = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END) AS s
  FROM toks
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
c AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
FROM (
  SELECT doc_a, doc_b, nc * 1.0 / (s1.n + s2.n - nc) AS j
  FROM c JOIN sizes s1 ON s1.doc_id = doc_a JOIN sizes s2 ON s2.doc_id = doc_b
) WHERE j >= 0.5
"""


def dedup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: connected components over the
    n-gram-Jaccard pair graph, every member labeled with its cluster's
    minimum doc id.  Pointer-jumping min-label propagation — the
    oracle recomputes the transitive closure with a recursive CTE.
    The convergence probe is ON here (one extra pair-graph-sized
    edge-join): a pathological >2^rounds-diameter chain warns instead
    of silently under-merging in production."""
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, n=3)
    return dedup.duplicate_clusters(pairs, check_convergence=True)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_NGRAM_JACCARD}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, w) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.w
)
SELECT u AS doc_id, LEAST(u, MIN(w))::BIGINT AS cluster_id
FROM reach GROUP BY u
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidates verified by exact shingle Jaccard.
    xxhash64 signatures are engine-specific → rows-only check; recall
    vs the exact dedup_ngram_jaccard output is asserted in tests."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, num_perm=32, bands=8
    )


def dedup_simhash(spark, sf_dir):
    """SimHash banded Hamming-distance pairs (engine-specific hashing →
    rows-only check)."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


# Portable-hash twins: same sketch pipelines with md5-derived 60-bit
# hashes (bit-identical to DuckDB's ('0x'||substr(md5(x),1,15))::BIGINT)
# so the driver's hash gate covers the MinHash-LSH and SimHash operators
# end-to-end.  xxhash64 stays the production default.

_SQL_SHINGLES = r"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END) AS s
  FROM toks
)"""


def dedup_minhash_lsh_md5(spark, sf_dir):
    """MinHash+LSH with the portable md5-derived hash family — the
    oracle recomputes signatures, bands and the exact-Jaccard verify in
    DuckDB, closing the driver hash gate over the whole sketch path."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, num_perm=32, bands=8, hash_fn="md5"
    )


SQL_MINHASH_LSH_MD5 = f"""
WITH {_SQL_SHINGLES},
hs AS (
  SELECT doc_id, s,
         list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
  FROM sh
),
sig AS (
  SELECT doc_id, s,
         list_transform(range(0, 32), i ->
           list_min(list_transform(h,
             v -> ('0x' || substr(md5(i::VARCHAR || ':' || v::VARCHAR), 1, 15))::BIGINT)))
           AS sig
  FROM hs
),
banded AS (
  SELECT doc_id, s, b.g AS band,
         md5(array_to_string(sig[b.g * 4 + 1 : b.g * 4 + 4], ',')) AS bucket
  FROM sig, (SELECT unnest(range(0, 8)) AS g) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.s AS s_a, b.s AS s_b
  FROM banded a
  JOIN banded b ON b.band = a.band AND b.bucket = a.bucket
               AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
FROM (
  SELECT doc_a, doc_b,
         len(list_intersect(s_a, s_b)) * 1.0
           / (len(s_a) + len(s_b) - len(list_intersect(s_a, s_b))) AS j
  FROM cand
) WHERE j >= 0.5
"""


def dedup_simhash_md5(spark, sf_dir):
    """60-bit SimHash (md5 hash family, 4×15-bit bands) with a full
    DuckDB oracle for the banded Hamming search."""
    return dedup.simhash_pairs(
        _docs(spark, sf_dir), max_hamming=3, hash_fn="md5", n_bits=60
    )


SQL_SIMHASH_MD5 = f"""
WITH {_SQL_SHINGLES},
hs AS (
  SELECT doc_id,
         list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
  FROM sh
),
fp AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 60), i ->
           CASE WHEN list_sum(list_transform(h,
                      v -> CASE WHEN (v >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS f
  FROM hs
),
banded AS (
  SELECT doc_id, f, b.g AS band, (f >> (b.g * 15)) & 32767 AS chunk
  FROM fp, (SELECT unnest(range(0, 4)) AS g) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.f, b.f))::BIGINT AS hamming
FROM banded a
JOIN banded b ON b.band = a.band AND b.chunk = a.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
"""


def doc_decontam(spark, sf_dir):
    """Benchmark decontamination: docs 0-24 stand in as the eval set;
    every other doc sharing a word 4-gram with them is flagged with its
    contaminated-gram count.  Benchmark grams broadcast; corpus
    streams.  String grams here so DuckDB reproduces the join —
    production uses ``hashed=True`` (same semantics, 8-byte keys)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 25)
    corpus = docs.filter(F.col("doc_id") >= 25)
    return dedup.contaminated_docs(corpus, bench, n=4)


SQL_DOC_DECONTAM = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
              THEN list_distinct(list_transform(range(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+3], ' ')))
              ELSE []::VARCHAR[] END AS gs
  FROM toks
),
bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id < 25)
SELECT c.doc_id, COUNT(*) AS n_contaminated_grams
FROM (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id >= 25) c
JOIN bg USING (gr)
GROUP BY c.doc_id
"""


# --- text analysis ----------------------------------------------------

def doc_top_terms(spark, sf_dir):
    """Top-3 terms per document, ranked tf-idf-style but with a fully
    integral ordering (tf DESC, document-frequency ASC — rarer term
    wins ties — then term ASC): a float idf would hinge on the two
    engines' libm producing bit-identical ln(), which is not a
    contract worth betting an oracle on.

    Scale shape: tf aggregates on (doc_id, term), document frequency
    on term, one join co-keyed on term, then the per-doc top-k
    window — every stage keyed, nothing collected."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    )


SQL_DOC_TOP_TERMS = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, term, tf, df, rnk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, df ASC, tf.term ASC) AS rnk
  FROM tf JOIN dfreq USING (term)
) WHERE rnk <= 3
"""


def doc_hash_sample(spark, sf_dir):
    """Deterministic, engine-portable 10% document sample: bucket by
    an md5-derived 60-bit integer of the doc id and keep buckets 0-9
    of 100.  Reproducible sampling is a pipeline primitive — the same
    subset falls out on every engine, every run, every partitioning —
    unlike rand()/TABLESAMPLE, which are engine- and plan-dependent.
    Pure per-row filter: no shuffle, prunes to two columns."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling.md5_bucket(F.col("doc_id"))
    return docs.filter(bucket < 10).select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )


SQL_DOC_HASH_SAMPLE = r"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> ''))::BIGINT AS n_tokens
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
"""


def doc_mixture_sample(spark, sf_dir):
    """Data-mixture construction: per-source stratified deterministic
    sampling — sources src0-src4 keep 40% of docs, everything else
    10%.  The same md5-bucket trick as doc_hash_sample, so the subset
    is reproducible on any engine/partitioning; the per-source rate is
    a broadcast-free CASE on the source column.  Pure per-row filter:
    no shuffle, prunes to three columns at the scan."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling.md5_bucket(F.col("doc_id"))
    rate = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(40)
    ).otherwise(F.lit(10))
    return docs.filter(bucket < rate).select(
        "doc_id", "source",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


SQL_DOC_MIXTURE_SAMPLE = r"""
SELECT doc_id, source,
       len(list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> ''))::BIGINT AS n_tokens
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
      < CASE WHEN source IN ('src0','src1','src2','src3','src4')
             THEN 40 ELSE 10 END
"""


def doc_mixture_upsample(spark, sf_dir):
    """The upsampling half of mixture construction: per-source EPOCH
    weights > 1 replicate documents (LLaMA-style multi-epoch mixing),
    fractional parts fall on a deterministic md5-bucket subset, and
    weights < 1 downsample — one unified operator.  src0-4 run 2.6
    epochs (every doc twice, the bucket<60 subset a third time),
    src5-9 exactly once, the rest 0.3.

    ``n_copies = pct div 100 + (bucket < pct mod 100)`` in exact
    integer arithmetic, then ``explode(sequence(1, n_copies))`` — a
    narrow (shuffle-free) row expansion whose output volume is just
    the mean epoch weight times the corpus, which is the right 100 TB
    shape: no shuffle, no skew point, scan-pruned to three columns."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = sampling.md5_bucket(F.col("doc_id"))
    pct = (
        F.when(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
            F.lit(260),
        )
        .when(
            F.col("source").isin("src5", "src6", "src7", "src8", "src9"),
            F.lit(100),
        )
        .otherwise(F.lit(30))
    )
    n_copies = (
        (pct - F.pmod(pct, 100)) / 100 + (bucket < F.pmod(pct, 100)).cast("int")
    ).cast("int")
    staged = docs.select("doc_id", "source", n_copies.alias("n_copies"))
    return (
        staged.filter(F.col("n_copies") > 0)
        .select(
            "doc_id", "source",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("long"))
    )


SQL_DOC_MIXTURE_UPSAMPLE = r"""
WITH w AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket,
         CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 260
              WHEN source IN ('src5','src6','src7','src8','src9') THEN 100
              ELSE 30 END AS pct
  FROM documents
),
c AS (
  SELECT doc_id, source,
         pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS n_copies
  FROM w
)
SELECT doc_id, source,
       unnest(generate_series(1, n_copies))::BIGINT AS copy_idx
FROM c
WHERE n_copies > 0
"""


def doc_source_stats(spark, sf_dir):
    """Mixture diagnostics: per-source doc count, token volume and
    mean quality — the dashboard numbers a data-mixture pipeline
    watches.  Token counts are exact longs; the quality mean uses the
    integer half-up rounding of queries/exact.py (quality has 6
    decimal digits → scale-6 exact arithmetic)."""
    docs = _docs(spark, sf_dir)
    staged = docs.select(
        "source",
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
        # explicit ROUND before the cast: Spark's long cast truncates
        # while DuckDB's rounds, and quality*1e6 sits a float-ulp off
        # its integer value
        F.round(text.quality_score(F.col("text")) * 1_000_000, 0)
        .cast("long")
        .alias("q6"),
    )
    n = F.count(F.lit(1))
    s = F.sum("q6")
    # final rounding in DECIMAL(38,0) — overflow-proof at any corpus
    # size (see queries/exact.py exact_avg4)
    x = s.cast("decimal(38,0)") * 2 + n.cast("decimal(38,0)") * 100
    y = n.cast("decimal(38,0)") * 200
    mean_q = (((x - F.pmod(x, y)) / y).cast("long") / F.lit(10000.0))
    return staged.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        mean_q.alias("mean_quality4"),
    )


SQL_DOC_SOURCE_STATS = r"""
WITH q AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok,
         CAST(ROUND(ROUND(LEAST(1.0, len(list_filter(string_split_regex(trim(text), '\s+'),
                                               x -> x <> '')) / 100.0) *
              (1 - CASE WHEN length(text) > 0
                        THEN len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                             / length(text)
                        ELSE 0 END), 6) * 1000000) AS BIGINT) AS q6
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS total_tokens,
       ((2 * SUM(q6) + COUNT(*) * 100)
         // (200 * COUNT(*))) / 10000.0 AS mean_quality4
FROM q GROUP BY source
"""


def text_profile(spark, sf_dir):
    prof = text.text_profile(_docs(spark, sf_dir))
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_punct").cast("long").alias("n_punct"),
        "quality",
        "fingerprint",
    )


SQL_TEXT_PROFILE = r"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       n_bpe AS n_bpe_tokens,
       n_chars AS n_chars_actual,
       n_punct,
       ROUND(LEAST(1.0, len(toks) / 100.0) *
             (1 - CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0 END),
             6) AS quality,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM base
"""


def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (type-token ratio, top token /
    top 2-gram share, duplicate-2-gram fraction, composite keep flag)
    as one shuffle-free projection; the oracle recomputes every ratio
    with unnest + GROUP BY."""
    return text.repetition_profile(_docs(spark, sf_dir))


# Ratios are raw int/int double divisions on both sides (no ROUND):
# correctly-rounded IEEE quotients of exact integers are bit-identical
# across engines, while ROUND()ing could tie-break differently on
# representable half-boundaries (see queries/exact.py).
SQL_TEXT_REPETITION = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              ELSE []::VARCHAR[] END AS g2
  FROM base
),
tok_top AS (
  SELECT doc_id, MAX(c) AS mx FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM g) GROUP BY 1, 2
  ) GROUP BY 1
),
g2_top AS (
  SELECT doc_id, MAX(c) AS mx FROM (
    SELECT doc_id, gr, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gr FROM g) GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT g.doc_id,
       g.n::BIGINT AS n_tokens,
       len(list_distinct(g.t)) / g.n AS ttr,
       tt.mx / g.n AS top_token_frac,
       CASE WHEN len(g.g2) > 0 THEN gt.mx / len(g.g2) ELSE 0.0 END
         AS top_2gram_frac,
       CASE WHEN len(g.g2) > 0
            THEN (len(g.g2) - len(list_distinct(g.g2))) / len(g.g2)
            ELSE 0.0 END AS dup_2gram_frac,
       (g.n >= 10
        AND len(list_distinct(g.t)) / g.n >= 0.3
        AND tt.mx / g.n <= 0.2
        AND (CASE WHEN len(g.g2) > 0
                  THEN (len(g.g2) - len(list_distinct(g.g2))) / len(g.g2)
                  ELSE 0.0 END) <= 0.2) AS keep
FROM g
LEFT JOIN tok_top tt USING (doc_id)
LEFT JOIN g2_top gt USING (doc_id)
"""


def text_language(spark, sf_dir):
    """Heuristic stopword language ID: per-language hit ratio over the
    distinct token set, argmax with (score, lang) tie-break."""
    docs = _docs(spark, sf_dir)
    staged = docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        text.distinct_tokens(F.lower(F.col("text"))).alias("__toks"),
    )
    return staged.select(
        "doc_id",
        text.language_id(F.col("__toks"), tokenized=True).alias("lang_guess"),
        "lang_declared",
    )


def _sql_text_language() -> str:
    score_cols = []
    structs = []
    for lang, words in text.STOPWORDS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score_cols.append(
            f"len(list_intersect(t, {arr}))::DOUBLE / {len(words)} AS s_{lang}"
        )
        structs.append(f"{{'score': s_{lang}, 'lang': '{lang}'}}")
    # Struct max in DuckDB compares fields in declaration order — the
    # same (score, then lang) ordering as Spark's array_max over
    # struct(score, lang), ties broken by max lang string.
    best = "list_aggregate([" + ", ".join(structs) + "], 'max')"
    return f"""
WITH toks AS (
  SELECT doc_id, lang AS lang_declared,
         list_distinct(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                   x -> x <> '')) AS t
  FROM documents
),
scores AS (
  SELECT doc_id, lang_declared, {", ".join(score_cols)} FROM toks
)
SELECT doc_id,
       CASE WHEN ({best}).score > 0 THEN ({best}).lang ELSE 'und' END AS lang_guess,
       lang_declared
FROM scores
"""


def doc_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive polynomial rolling hash over the token sequence
    (md5-derived token hashes — portable, see rolling_fingerprint)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", text.rolling_fingerprint(F.col("text")).alias("rolling_fp")
    )


SQL_ROLLING_FP = r"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''),
             t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
         (acc, h) -> (acc * 31 + h) % 2147483648
       ) AS rolling_fp
FROM documents
"""


def doc_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection: every k-gram hashed,
    each w-window's rightmost-minimum hash selected — the standard
    guarantee-bearing local fingerprint for plagiarism / near-dup
    detection (any ≥(w+k−1)-token overlap shares a fingerprint).  See
    functions/text.py:winnow_fingerprints for the run-length selection
    that avoids a w× window blowup."""
    docs = _docs(spark, sf_dir)
    return text.winnow_fingerprints(docs, k=3, w=4)


# Same selection in SQL: position p is selected iff a + b >= w-1
# clamped to the document's valid window range, with a/b the capped
# runs of non-violating neighbors (strict left / non-strict right =
# rightmost tie rule).  w=4, k=3.
SQL_WINNOW_FP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8))::BIGINT
         ) AS hs
  FROM toks
),
e AS (
  SELECT doc_id, unnest(range(len(hs))) AS pos, hs, len(hs) AS n
  FROM g
),
x AS (
  SELECT doc_id, pos, hs[pos + 1] AS h, n,
         lag(hs[pos + 1], 1) OVER win AS lag1,
         lag(hs[pos + 1], 2) OVER win AS lag2,
         lag(hs[pos + 1], 3) OVER win AS lag3,
         lead(hs[pos + 1], 1) OVER win AS lead1,
         lead(hs[pos + 1], 2) OVER win AS lead2,
         lead(hs[pos + 1], 3) OVER win AS lead3
  FROM e
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
s AS (
  SELECT doc_id, pos, h, n,
         CASE WHEN lag1 < h THEN 0 WHEN lag2 < h THEN 1
              WHEN lag3 < h THEN 2 ELSE 3 END AS a,
         CASE WHEN lead1 <= h THEN 0 WHEN lead2 <= h THEN 1
              WHEN lead3 <= h THEN 2 ELSE 3 END AS b
  FROM x
)
SELECT doc_id, pos::BIGINT AS pos, h AS fp
FROM s
WHERE n >= 4 AND greatest(0, pos - a) <= least(pos + b - 3, n - 4)
"""


def text_lm_quality(spark, sf_dir):
    """Corpus-trained bigram LM quality signals per document (CCNet
    shape without the external model): mean corpus bigram frequency +
    unique-bigram fraction, both as one IEEE divide of exact integer
    sums.  functions/text.py:lm_quality.  (Implemented and
    oracle-verified in round 6; registered in the round-7 rotation —
    round 6's 5-new-query window cap was already spent.)"""
    return text.lm_quality(_docs(spark, sf_dir))


SQL_LM_QUALITY = r"""
WITH bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
    FROM documents
  ), UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
),
cnt AS (SELECT bg, COUNT(*) AS bdf FROM bg GROUP BY bg)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       SUM(bdf)::BIGINT::DOUBLE / COUNT(*)::DOUBLE AS avg_bigram_df,
       SUM(CASE WHEN bdf = 1 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         / COUNT(*)::DOUBLE AS unique_fraction
FROM bg JOIN cnt USING (bg)
GROUP BY doc_id
"""


def doc_winnow_robust(spark, sf_dir):
    """ROBUST winnowing (SIGMOD'03 §5.2): a window whose minimum
    equals the still-in-window previous selection re-selects it
    instead of a new rightmost minimum — fewer fingerprints on
    repetitive/boilerplate text.  Selection is history-dependent, so
    the Spark side is a per-document left-to-right fold (F.aggregate,
    still shuffle-free) and the oracle replays the same fold with a
    recursive CTE stepping one window per iteration."""
    docs = _docs(spark, sf_dir)
    return text.winnow_fingerprints(docs, k=3, w=4, robust=True)


# Robust selection needs the previous selection, so the oracle is a
# recursive CTE over window starts t (one iteration per window),
# carrying (prev, hs): keep prev while it stays the window minimum
# and in-window, else emit the rightmost minimum.  DuckDB lateral
# column aliases (m/sel referenced later in the same SELECT) keep the
# min expression single-sourced.  w=4, k=3; lists are 1-based.
SQL_WINNOW_ROBUST = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8))::BIGINT
         ) AS hs
  FROM toks
),
steps AS (
  SELECT doc_id, hs, len(hs) AS n, 0 AS t,
         least(hs[1], hs[2], hs[3], hs[4]) AS m,
         CASE WHEN hs[4] = m THEN 3 WHEN hs[3] = m THEN 2
              WHEN hs[2] = m THEN 1 ELSE 0 END AS sel,
         sel AS prev
  FROM g WHERE len(hs) >= 4
  UNION ALL
  SELECT doc_id, hs, n, t + 1 AS t2,
         least(hs[t+2], hs[t+3], hs[t+4], hs[t+5]) AS m2,
         CASE WHEN prev >= t + 1 AND hs[prev+1] = m2 THEN NULL
              WHEN hs[t+5] = m2 THEN t + 4
              WHEN hs[t+4] = m2 THEN t + 3
              WHEN hs[t+3] = m2 THEN t + 2
              ELSE t + 1 END AS sel2,
         coalesce(sel2, prev) AS prev2
  FROM steps WHERE t + 1 <= n - 4
)
SELECT doc_id, sel::BIGINT AS pos, hs[sel+1] AS fp
FROM steps WHERE sel IS NOT NULL
"""


def dedup_winnow_pairs(spark, sf_dir):
    """Near-dup pairs from shared winnowing fingerprints (containment
    over the smaller selected set ≥ 0.5) — the guarantee-bearing
    cheap tier between exact dedup and MinHash: any ≥(w+k−1)-token
    overlap is visible to it, and the posting index is ~2/(w+1) the
    size of the full shingle index.  functions/dedup.py:winnow_pairs."""
    docs = _docs(spark, sf_dir)
    return dedup.winnow_pairs(docs, threshold=0.5, k=3, w=4, max_df=64, min_shared=2)


SQL_DEDUP_WINNOW = f"""
WITH sel AS ({SQL_WINNOW_FP}),
fps AS (SELECT DISTINCT doc_id, fp FROM sel),
rare AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64),
idx AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM idx a JOIN idx b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY 1)
SELECT doc_a, doc_b, n_shared,
       n_shared::DOUBLE / least(na.n_fp, nb.n_fp)::DOUBLE AS sim
FROM pairs
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE n_shared::DOUBLE / least(na.n_fp, nb.n_fp)::DOUBLE >= 0.5
"""


# --- similarity search ------------------------------------------------

def sim_cosine_topk(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    out = similarity.cosine_topk(embs, queries, k=5)
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rnk"),
        "neighbor_id",
        "sim",
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS sim
  FROM q JOIN c ON c.vec_id <> q.vec_id
),
r AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
FROM r WHERE rnk <= 5
"""


def sim_ann_ivf(spark, sf_dir):
    """IVF ANN: KMeans coarse quantizer + nprobe cell search.  The fit
    is deterministic (seeded numpy KMeans on the id-ordered sample), so
    the whole pipeline — fit, cell assignment, probing, exact rescoring
    — carries a DuckDB oracle with the recomputed centroids embedded as
    literals (see _sql_sim_ann_ivf); recall vs exact top-k is
    additionally asserted in tests."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    out = similarity.ivf_ann_topk(embs, queries, k=5, n_cells=16, nprobe=4)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id", "sim"
    )


def _sql_ivf_parts(
    sf_dir: str | None = None, n_cells: int = 16
) -> tuple[str, str]:
    """Shared centroid machinery of the IVF-family oracles
    (sim_ann_ivf, dedup_semantic): recompute the IDENTICAL quantizer
    centers offline (numpy k-means++/Lloyd, seed 42, id-ordered sample
    — deterministic, see similarity._fit_cell_centers) and return
    (centers-literal SQL, ranked-cells expression SQL).  Distances fold
    left-to-right via list_reduce to match Spark's sequential
    ``aggregate`` fold bit-for-bit."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    order = np.argsort(np.array(tbl.column("vec_id").to_pylist()), kind="stable")
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)[order][
        : 256 * n_cells
    ]
    centers = similarity._fit_centroids(X, n_cells, 42)
    cc = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in ctr) + "]" for ctr in centers
        )
        + "]"
    )
    dim = X.shape[1]
    # squared distance of v to centroid i (1-based CC index), exact
    # left-to-right fold
    d_expr = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"j -> (v[j] - CC[i + 1][j]) * (v[j] - CC[i + 1][j]))), (a, b) -> a + b)"
    )
    ranked = (
        f"list_transform(list_sort(list_transform(range(0, {n_cells}), "
        f"i -> {{'d': {d_expr}, 'cell': i}})), s -> s.cell)"
    )
    return cc, ranked


def _sql_sim_ann_ivf(sf_dir: str | None = None) -> str:
    """DuckDB oracle for the full IVF pipeline.  The quantizer fit is
    deterministic (numpy k-means++/Lloyd, seed 42, id-ordered sample),
    so this generator recomputes the IDENTICAL centroids offline from
    the oracle-scale parquet (the driver's correctness gate runs at
    sf0.01 by contract; override via ``sf_dir`` or the
    ``SPARK_GRAFT_ORACLE_SF_DIR`` env var) and embeds them as literals;
    cell assignment, probing and rescoring are then re-expressed in
    SQL.  Distances fold left-to-right via list_reduce to match Spark's
    sequential ``aggregate`` fold bit-for-bit.

    Deliberately NOT run at module import: it reads parquet and pays a
    KMeans fit, so it is registered as a lazy callable in ``ORACLES``
    and only resolved (then cached) when ``oracle_sql()`` is built.
    """
    cc, ranked = _sql_ivf_parts(sf_dir)
    return f"""
WITH cc AS (SELECT {cc} AS CC),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, ({ranked})[1] AS cell FROM c, cc
),
q AS (
  SELECT vec_id AS query_id, v AS qv, ({ranked})[1:4] AS cells
  FROM c, cc WHERE vec_id < 8
),
probes AS (SELECT query_id, qv, unnest(cells) AS pcell FROM q),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v
  FROM probes p
  JOIN assigned a ON a.cell = p.pcell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv, v) AS sim FROM cand
),
r AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
FROM r WHERE rnk <= 5
"""


def _sql_bucket_expr(n_planes: int, vec: str = "v") -> str:
    """Sign-LSH bucket as a SQL int expression over the SAME hyperplanes
    the Spark queries embed as literals (pure-Python RNG, seed 42) —
    repr() round-trips doubles exactly in both engines."""
    planes = similarity._hyperplanes(64, n_planes, 42)
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vec}, {lit}) >= 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def sim_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN with 1-bit multiprobe; the hyperplanes
    are deterministic literals, so the full probe + exact-rescoring
    pipeline has a DuckDB oracle."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    out = similarity.lsh_ann_topk(embs, queries, k=5, n_planes=4, dim=64)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id", "sim"
    )


def _sql_sim_ann_lsh() -> str:
    probes = ", ".join(["qb"] + [f"xor(qb, {1 << i})" for i in range(4)])
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, {_sql_bucket_expr(4)} AS bucket FROM c),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM sig WHERE vec_id < 8),
probes AS (SELECT query_id, qv, unnest([{probes}]) AS pb FROM q),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, s.vec_id AS neighbor_id, s.v
  FROM probes p
  JOIN sig s ON s.bucket = p.pb AND s.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, v) AS sim
  FROM cand
),
r AS (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id, ROUND(sim, 6) AS sim
FROM r WHERE rnk <= 5
"""


def sim_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs with LSH blocking; 8
    planes → 256 buckets (bounded in-bucket pair expansion), literal
    hyperplanes → full DuckDB oracle."""
    return similarity.embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.4, n_planes=8, dim=64
    )


def _sql_sim_embedding_neardup() -> str:
    return f"""
WITH c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT id, v, {_sql_bucket_expr(8)} AS bucket FROM c)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM sig a
JOIN sig b ON b.bucket = a.bucket AND a.id < b.id
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""


# --- sequence packing -------------------------------------------------

def doc_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (capacity 256 tokens, 4 shards
    per source): per training sequence, how many docs and tokens landed
    in it.  One semantic shuffle — the (source, shard) window
    partitioning — reused by the cumulative sum, the seq assignment,
    and the rollup (the extra round-robin exchange in the local plan is
    spread()'s small-file guard, a no-op at scale); parallelism scales
    with n_sources × n_shards (see functions/packing.py for the 100 TB
    sharding rationale)."""
    from reflinkcep_spark.functions.packing import pack_sequences, pack_stats

    return pack_stats(pack_sequences(_docs(spark, sf_dir), capacity=256))


SQL_DOC_PACK_SEQUENCES = r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ok
  FROM documents
),
a AS (
  SELECT source, ok % 4 AS shard, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source, ok % 4 ORDER BY ok, doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
  FROM d
)
SELECT source, shard::BIGINT AS shard,
       -- the windowed SUM is HUGEINT; // keeps it HUGEINT -> cast
       (cum_before // 256)::BIGINT AS seq_id,
       COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens
FROM a GROUP BY 1, 2, 3
"""


def doc_pack_ffd(spark, sf_dir):
    """WHOLE-DOCUMENT first-fit-decreasing packing (capacity 96
    tokens, 4 shards per source): every document lands intact in
    exactly one training sequence; docs longer than the capacity get a
    flagged overflow sequence of their own.  Complements
    doc_pack_sequences (concat-and-chunk).  Packing is sequential per
    (source, shard) stratum — parallelism comes from sharding, same
    single-shuffle shape as pack_sequences (functions/packing.py for
    the 100 TB rationale).  The oracle replays FFD exactly with a
    recursive CTE: one document placed per iteration per stratum,
    state = the per-bin remaining-capacity list."""
    from reflinkcep_spark.functions.packing import pack_sequences_ffd

    return pack_sequences_ffd(_docs(spark, sf_dir), capacity=96)


# FFD replay: s ranks each stratum's docs in FFD order (tokens desc,
# md5 order key, id).  The recursive branch joins rank rn+1 onto the
# rank-rn row and carries `caps` (remaining capacity per bin; -1 marks
# a closed overflow bin so nothing — not even a 0-token doc — joins
# it).  `fit` is the 1-based first bin with room (NULLIF: DuckDB's
# list_position yields 0, not NULL, on no match).  Strata step in
# lockstep, so recursion depth = max docs per stratum.
SQL_DOC_PACK_FFD = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ok
  FROM documents
),
s AS (
  SELECT source, (ok % 4)::BIGINT AS shard, doc_id, n_tok,
         row_number() OVER (PARTITION BY source, ok % 4
                            ORDER BY n_tok DESC, ok, doc_id) AS rn
  FROM d
),
ffd AS (
  SELECT source, shard, rn, doc_id, n_tok,
         0::BIGINT AS seq_id,
         n_tok > 96 AS overflow,
         CASE WHEN n_tok > 96 THEN [(-1)::BIGINT]
              ELSE [96 - n_tok] END AS caps
  FROM s WHERE rn = 1
  UNION ALL
  SELECT nxt.source, nxt.shard, nxt.rn, nxt.doc_id, nxt.n_tok,
         CASE WHEN nxt.n_tok > 96 THEN len(p.caps)
              WHEN fit IS NOT NULL THEN fit - 1
              ELSE len(p.caps) END::BIGINT AS seq_id,
         nxt.n_tok > 96 AS overflow,
         CASE WHEN nxt.n_tok > 96 THEN list_append(p.caps, (-1)::BIGINT)
              WHEN fit IS NOT NULL THEN
                p.caps[1:fit-1] || [p.caps[fit] - nxt.n_tok]
                  || p.caps[fit+1:len(p.caps)]
              ELSE list_append(p.caps, 96 - nxt.n_tok) END AS caps
  FROM ffd p
  JOIN s nxt ON nxt.source = p.source AND nxt.shard = p.shard
            AND nxt.rn = p.rn + 1,
  LATERAL (SELECT NULLIF(list_position(
             list_transform(p.caps, c -> c >= nxt.n_tok), true), 0) AS fit) l
)
SELECT source, shard, seq_id, doc_id, n_tok, overflow FROM ffd
"""


# --- per-source length outliers ---------------------------------------

def doc_length_outliers(spark, sf_dir):
    """Per-source length-distribution trim: exact discrete P10/P90 of
    the token count per source, then every doc outside [p10, p90]
    tagged short/long.  Two-pass shape: the 20-row stats frame is
    BROADCAST back onto the corpus, so the second pass is a map-side
    join — the corpus is never shuffled.  (At extreme scale swap the
    exact percentile for approx_percentile — same plan, bounded
    memory; exact here because the gate hashes values.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    pd_ = lambda p: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY n_tok)"
    )
    stats = docs.groupBy("source").agg(
        pd_(0.1).alias("p10"), pd_(0.9).alias("p90")
    )
    out = docs.join(F.broadcast(stats), "source").filter(
        (F.col("n_tok") < F.col("p10")) | (F.col("n_tok") > F.col("p90"))
    )
    return out.select(
        "doc_id", "source", "n_tok",
        # percentile_disc picks an actual element but returns DOUBLE;
        # token counts are integral, so the cast is lossless — and the
        # driver's value-hash is type-sensitive (oracle emits BIGINT).
        F.col("p10").cast("long").alias("p10"),
        F.col("p90").cast("long").alias("p90"),
        F.when(F.col("n_tok") < F.col("p10"), F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("side"),
    )


SQL_DOC_LENGTH_OUTLIERS = r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok
  FROM documents
),
s AS (
  SELECT source, quantile_disc(n_tok, 0.1) AS p10,
         quantile_disc(n_tok, 0.9) AS p90
  FROM d GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tok, s.p10::BIGINT AS p10, s.p90::BIGINT AS p90,
       CASE WHEN d.n_tok < s.p10 THEN 'short' ELSE 'long' END AS side
FROM d JOIN s USING (source)
WHERE d.n_tok < s.p10 OR d.n_tok > s.p90
"""


# --- multimodal -------------------------------------------------------

def multimodal_bytes(spark, sf_dir):
    """Binary-column plumbing over synthesized payloads: byte length +
    magic sniffing (text payloads → octet-stream)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    out = multimodal.binary_metadata(docs, "payload")
    return out.select(
        "doc_id",
        F.col("byte_len").cast("long").alias("byte_len"),
        "media_type",
    )


SQL_MULTIMODAL_BYTES = """
SELECT doc_id, octet_length(encode(text)) AS byte_len,
       'application/octet-stream' AS media_type
FROM documents
"""


def doc_vocab_coverage(spark, sf_dir):
    """Tokenizer-design diagnostic: the top-100 corpus vocabulary with
    each term's cumulative share of total token volume (how much of
    the corpus the first k vocab entries cover).

    Scale shape: term counts are one keyed aggregate; the top-100 is a
    distributed sort-limit (TakeOrdered — per-partition heaps, no
    global sort); only the BOUNDED 100-row result flows through the
    single-task cumulative window, and the corpus total rides in as a
    broadcast scalar.  Ordering (count DESC, term ASC) and the
    int/int division are deterministic across engines."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(text.tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(100)
    w = (
        Window.orderBy(F.desc("n"), F.asc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_n", F.sum("n").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "term",
            "n",
            "rank",
            (F.col("cum_n") / F.col("__total")).alias("cum_frac"),
        )
    )


SQL_DOC_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY 1),
total AS (SELECT SUM(n) AS t FROM counts),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 100)
SELECT term, n,
       ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank,
       (SUM(n) OVER (ORDER BY n DESC, term
                     ROWS UNBOUNDED PRECEDING) * 1.0 / total.t) AS cum_frac
FROM top, total
"""


def doc_chunk_overlap(spark, sf_dir):
    """Overlapping token-window chunking — the step an embedding/RAG
    pipeline runs before vectorizing: each document becomes windows of
    64 tokens with stride 48 (16-token overlap), identified by
    (doc_id, chunk_id) with an md5 content fingerprint instead of the
    chunk text (no point hauling the corpus twice through the oracle).

    Pure narrow plan: tokenize → generate start offsets
    (``sequence(1, n-overlap, stride)``) → explode → slice.  Output
    volume is ``n/stride`` rows per doc, no shuffle, scan pruned to
    two columns — the same shape at any corpus size."""
    size, stride, overlap = 64, 48, 16
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", text.tokens(F.col("text")).alias("__t")
    )
    n = F.size("__t")
    starts = F.sequence(
        F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = staged.select(
        "doc_id", "__t", F.explode(starts).alias("__start")
    )
    piece = F.slice(F.col("__t"), F.col("__start"), size)
    return chunks.select(
        "doc_id",
        F.expr(f"(__start - 1) div {stride}").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


SQL_DOC_CHUNK_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
st AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 16, 1), 48)) AS s
  FROM toks
)
SELECT doc_id,
       ((s - 1) // 48)::BIGINT AS chunk_id,
       len(t[s:s+63])::BIGINT AS n_chunk_tokens,
       md5(array_to_string(t[s:s+63], ' ')) AS chunk_md5
FROM st
"""


def doc_curation_funnel(spark, sf_dir):
    """End-to-end curation funnel: the attrition report a training-data
    pipeline publishes.  Six cumulative stages — total → token-length
    gate (10..5000) → quality ≥ 0.3 → Gopher repetition keep → exact
    dedup (min-id keeper among stage-3 SURVIVORS, not the raw corpus)
    → benchmark decontamination (bench docs 0-24 and any doc sharing a
    word 4-gram with them drop out).  Output: one row per stage with
    surviving doc count and token volume.

    Scale shape: ALL flags — including the repetition keep verdict —
    are computed inline over a staged token array (two chained
    projections, zero joins; the sort+fold multiplicity trick of
    functions/text.py keeps even the repetition stats shuffle-free);
    the keeper step is one digest-keyed aggregate over survivors
    joined back (broadcastable — it only holds duplicate digests);
    the contamination step reuses the broadcast bench-gram join of
    doc_decontam.  The final rollup is a 6-value aggregate — nothing
    driver-side, no stage recomputes the scan."""
    docs = _docs(spark, sf_dir)
    c = F.col("text")
    s1 = docs.select(
        "doc_id",
        text.tokens(c).alias("__t"),
        text.quality_score(c).alias("q"),
        F.md5(c).alias("__digest"),
    )
    t = F.col("__t")
    g2 = text.ngrams(t, 2)
    n_tok = F.size(t)
    n_g2 = F.size(g2)
    ttr = F.size(F.array_distinct(t)) / n_tok
    top_tok = text.max_multiplicity(t) / n_tok
    dup_g2 = F.when(
        n_g2 > 0, (n_g2 - F.size(F.array_distinct(g2))) / n_g2
    ).otherwise(F.lit(0.0))
    keep = (n_tok >= 10) & (ttr >= 0.3) & (top_tok <= 0.2) & (dup_g2 <= 0.2)

    f1 = n_tok.between(10, 5000)
    f2 = f1 & (F.col("q") >= 0.3)
    f3 = f2 & keep
    base = s1.select("doc_id", n_tok.cast("long").alias("n_tok"), "__digest",
                     f1.alias("f1"), f2.alias("f2"), f3.alias("f3"))
    # Pin the flag frame (lazy localCheckpoint, as dedup_clusters does):
    # it feeds three consumers (keeper aggregate, keeper join, final
    # rollup), and without materialization Catalyst pushes the survivor
    # filter through the projection and re-evaluates the whole token
    # analytics per consumer (measured 12.5 s vs 3 s at sf0.1).  The
    # frame is a narrow ~50 B/row skeleton — id, digest, a long and
    # three booleans — so pinning it is the standard move at any scale.
    base = base.localCheckpoint(eager=False)

    keepers = (
        base.filter("f3")
        .groupBy("__digest")
        .agg(F.min("doc_id").alias("__keeper"))
    )
    base = base.join(keepers, "__digest", "left").withColumn(
        "f4", F.col("f3") & (F.col("doc_id") == F.col("__keeper"))
    )

    contaminated = dedup.contaminated_docs(
        docs.filter(F.col("doc_id") >= 25), docs.filter(F.col("doc_id") < 25), n=4
    ).select("doc_id", F.lit(True).alias("__contam"))
    base = base.join(contaminated, "doc_id", "left").withColumn(
        "f5",
        F.col("f4") & (F.col("doc_id") >= 25) & F.col("__contam").isNull(),
    )

    wide = base.agg(
        *[
            x
            for i, flag in enumerate(
                [F.lit(True), F.col("f1"), F.col("f2"), F.col("f3"),
                 F.col("f4"), F.col("f5")]
            )
            for x in (
                F.sum(flag.cast("long")).alias(f"d{i}"),
                F.sum(F.when(flag, F.col("n_tok"))).alias(f"t{i}"),
            )
        ]
    )
    stages = ["0_total", "1_length", "2_quality", "3_repetition",
              "4_exact_dedup", "5_decontam"]
    return wide.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("stage"),
                    F.col(f"d{i}").alias("n_docs"),
                    F.col(f"t{i}").alias("n_tokens"),
                )
                for i, s in enumerate(stages)
            ])
        ).alias("r")
    ).select("r.stage", "r.n_docs", "r.n_tokens")


SQL_DOC_CURATION_FUNNEL = r"""
WITH base AS (
  SELECT doc_id, text, md5(text) AS digest,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
  FROM documents
),
flags AS (
  SELECT doc_id, digest, t, len(t)::BIGINT AS n_tok,
         ROUND(LEAST(1.0, len(t) / 100.0) *
               (1 - CASE WHEN n_chars > 0
                         THEN n_punct * 1.0 / n_chars ELSE 0 END), 6) AS q,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              ELSE []::VARCHAR[] END AS g2
  FROM base
),
tok_top AS (
  SELECT doc_id, MAX(c) AS mx FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM flags) GROUP BY 1, 2
  ) GROUP BY 1
),
w3 AS (
  SELECT f.doc_id, f.digest, f.t, f.n_tok,
         (f.n_tok BETWEEN 10 AND 5000) AS f1,
         (f.n_tok BETWEEN 10 AND 5000) AND f.q >= 0.3 AS f2,
         (f.n_tok BETWEEN 10 AND 5000) AND f.q >= 0.3
           AND (f.n_tok >= 10
                AND len(list_distinct(f.t)) / f.n_tok >= 0.3
                AND tt.mx / f.n_tok <= 0.2
                AND (CASE WHEN len(f.g2) > 0
                          THEN (len(f.g2) - len(list_distinct(f.g2)))
                               / len(f.g2)
                          ELSE 0.0 END) <= 0.2) AS f3
  FROM flags f
  LEFT JOIN tok_top tt USING (doc_id)
),
keepers AS (
  SELECT digest, MIN(doc_id) AS keeper FROM w3 WHERE f3 GROUP BY 1
),
w4 AS (
  SELECT w3.*, (f3 AND doc_id = keeper) AS f4
  FROM w3 LEFT JOIN keepers USING (digest)
),
g4 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
              THEN list_distinct(list_transform(range(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+3], ' ')))
              ELSE []::VARCHAR[] END AS gs
  FROM flags
),
bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g4 WHERE doc_id < 25),
contam AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(gs) AS gr FROM g4 WHERE doc_id >= 25) c
  JOIN bg USING (gr)
),
w5 AS (
  SELECT w4.*,
         (f4 AND w4.doc_id >= 25 AND contam.doc_id IS NULL) AS f5
  FROM w4 LEFT JOIN contam ON w4.doc_id = contam.doc_id
)
SELECT '0_total' AS stage, COUNT(*)::BIGINT AS n_docs,
       SUM(n_tok)::BIGINT AS n_tokens FROM w5
UNION ALL SELECT '1_length', COUNT(*) FILTER (WHERE f1)::BIGINT,
       SUM(n_tok) FILTER (WHERE f1)::BIGINT FROM w5
UNION ALL SELECT '2_quality', COUNT(*) FILTER (WHERE f2)::BIGINT,
       SUM(n_tok) FILTER (WHERE f2)::BIGINT FROM w5
UNION ALL SELECT '3_repetition', COUNT(*) FILTER (WHERE f3)::BIGINT,
       SUM(n_tok) FILTER (WHERE f3)::BIGINT FROM w5
UNION ALL SELECT '4_exact_dedup', COUNT(*) FILTER (WHERE f4)::BIGINT,
       SUM(n_tok) FILTER (WHERE f4)::BIGINT FROM w5
UNION ALL SELECT '5_decontam', COUNT(*) FILTER (WHERE f5)::BIGINT,
       SUM(n_tok) FILTER (WHERE f5)::BIGINT FROM w5
"""


def doc_pii_scrub(spark, sf_dir):
    """PII audit + redaction (functions/text.py pii_counts/scrub_pii).

    The synthetic corpus contains no PII, so the query PLANTS
    deterministic doc_id-derived identifiers (an email and an IPv4 per
    doc, a phone for doc_id%3==0, an SSN for doc_id%5==0) with the same
    expression the oracle uses — the scrub is then exercised on text
    with known-nonzero match counts.  Counts run on the planted text,
    redaction is the chained regexp_replace of scrub_pii; everything is
    one whole-stage-codegen projection — no shuffle, no UDF, and at
    100 TB the scan parallelism is the only knob that matters."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    planted = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), did, F.lit("@example.com")),
        F.concat(
            F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("call 555-123-4567")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("ssn 123-45-6789")),
    )
    base = docs.select("doc_id", planted.alias("ptext"))
    scrubbed = text.scrub_pii(F.col("ptext"))
    return base.select(
        "doc_id",
        *[
            c.cast("long").alias(f"n_{kind.lower()}")
            for kind, c in text.pii_counts(F.col("ptext"))
        ],
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


# The oracle plants the identical identifiers, then counts with
# regexp_extract_all and redacts with the same four patterns in the
# same order (DuckDB regexp_replace needs the 'g' flag — without it
# only the FIRST match per document is redacted, unlike Spark).
SQL_DOC_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id,
         concat_ws(' ', text,
                   'user' || doc_id::VARCHAR || '@example.com',
                   '10.0.' || (doc_id % 256)::VARCHAR || '.7',
                   CASE WHEN doc_id % 3 = 0 THEN 'call 555-123-4567' END,
                   CASE WHEN doc_id % 5 = 0 THEN 'ssn 123-45-6789' END
         ) AS ptext
  FROM documents
),
scrubbed AS (
  SELECT doc_id, ptext,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(ptext,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g'),
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
           '[IPV4]', 'g') AS stext
  FROM planted
)
SELECT doc_id,
       len(regexp_extract_all(ptext,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(ptext,
         '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))::BIGINT AS n_ssn,
       len(regexp_extract_all(ptext,
         '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))::BIGINT AS n_phone,
       len(regexp_extract_all(ptext,
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ipv4,
       md5(stext) AS scrubbed_md5,
       length(stext)::BIGINT AS scrubbed_len
FROM scrubbed
"""


# --- split assignment / global shuffle / token distribution ----------

SPLITS = {"train": 96, "valid": 2, "test": 2}


def doc_split_assign(spark, sf_dir):
    """Frozen train/valid/test split (96/2/2) with the release audit a
    dataset ships with: per (source, split) document count and token
    volume.  Membership is a pure function of doc_id
    (functions/sampling.py assign_split), so a document's split never
    changes as the corpus grows — the property that keeps eval sets
    uncontaminated across dataset versions.  Pure projection at the
    scan (three columns pruned), then one shuffle on the tiny
    (source, split) key space with map-side partial aggregation."""
    docs = _docs(spark, sf_dir)
    staged = docs.select(
        "source",
        sampling.assign_split(F.col("doc_id"), SPLITS).alias("split"),
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return staged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


SQL_DOC_SPLIT_ASSIGN = r"""
WITH s AS (
  SELECT source,
         CASE WHEN b < 96 THEN 'train'
              WHEN b < 98 THEN 'valid'
              ELSE 'test' END AS split,
         n_tok
  FROM (
    SELECT source,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> ''))::BIGINT AS n_tok
    FROM documents)
)
SELECT source, split, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS total_tokens
FROM s
GROUP BY 1, 2
"""


N_SHUFFLE_SHARDS = 64


def doc_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training-order assignment:
    shard = md5-bucket of doc_id, position = rank of the 60-bit hash
    within the shard.  Reading shards in index order replays the same
    pseudo-random document order on any engine, any run, any
    partitioning — unlike ``ORDER BY rand()``, which is neither
    reproducible nor scalable.

    The row_number window partitions BY SHARD — the scalable shape: no
    global total-order exchange (a single ORDER BY h would range-sort
    the full corpus), each shard sorts independently after one hash
    shuffle, and raising 64 to thousands of shards at 100 TB keeps
    every per-shard sort in memory."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", sampling.md5_hash60(F.col("doc_id")).alias("h")
    )
    shard = F.col("h") % N_SHUFFLE_SHARDS
    w = Window.partitionBy(shard).orderBy("h", "doc_id")
    return docs.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


SQL_DOC_GLOBAL_SHUFFLE = r"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id,
       h % 64 AS shard,
       ROW_NUMBER() OVER (PARTITION BY h % 64 ORDER BY h, doc_id)::BIGINT AS pos
FROM h
"""


def text_bigram_lift(spark, sf_dir):
    """Collocation mining: the 30 bigrams with the highest lift
    ``P(ab) / (P(a)·P(b)) = n_ab·N / (n_a·n_b)`` among bigrams seen
    ≥5 times — the phrase-extraction primitive a pretraining pipeline
    uses to promote multi-word units into the tokenizer vocabulary.
    Scores stay cross-engine bit-stable WITHOUT logs (PMI's ``log``
    is implementation-defined in the last bit): the numerator and
    denominator are exact integer products widened to 38-digit
    decimals (HUGEINT on the oracle side — a long product overflows
    once N passes ~2^53 at corpus scale), each correctly rounded to
    double once, then a single IEEE divide.  Plan shape: two
    word-keyed aggregations + two joins of the (already aggregated,
    count-≥5-pruned) bigram frame against unigram counts, the 1-row
    total broadcast — everything downstream of the scans is
    aggregate-sized."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(text.tokens(F.col("text")).alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    # Round-14 pass rework: the unigram-count table feeds BOTH lift
    # joins, so pin it (lazy localCheckpoint — VOCABULARY-sized, safe
    # to materialize at any corpus scale), and take the token total as
    # Σn over it instead of a separate corpus-wide count.  Together: 4
    # scan→tokenize passes become 2 (one for unigram counts, one for
    # bigrams).
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ucnt = ucnt.localCheckpoint(eager=False)
    tot = ucnt.agg(F.sum("n").alias("N"))
    big = toks.select(F.explode(text.ngrams(F.col("t"), 2)).alias("bg"))
    bcnt = (
        big.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= 5)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "nab",
        )
    )
    out = (
        bcnt.join(ucnt.select(F.col("w").alias("w1"), F.col("n").alias("na")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("n").alias("nb")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "nab",
            (
                (F.col("nab").cast("decimal(38,0)") * F.col("N")).cast("double")
                / (F.col("na").cast("decimal(38,0)") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "w1", "w2").limit(30)


SQL_BIGRAM_LIFT = r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
uni AS (SELECT unnest(t) AS w FROM toks),
ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM uni),
big AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t), 1))) AS i)
),
bcnt AS (
  SELECT w1, w2, COUNT(*) AS nab FROM big GROUP BY 1, 2 HAVING COUNT(*) >= 5
)
SELECT w1, w2, nab,
       (nab::HUGEINT * n_total)::DOUBLE / (na.n::HUGEINT * nb.n)::DOUBLE AS lift
FROM bcnt
JOIN ucnt na ON na.w = w1
JOIN ucnt nb ON nb.w = w2
CROSS JOIN tot
ORDER BY lift DESC, w1, w2
LIMIT 30
"""


def text_token_histogram(spark, sf_dir):
    """Per-source power-of-two token-length histogram — the length
    distribution a curation pipeline watches for truncation cliffs and
    boilerplate spikes.  Bucket = floor(log2(n_tok)) + 1 computed as
    ``length(bin(n_tok))`` — pure integer arithmetic on both engines
    (a float log2 can land on either side of a bucket boundary
    depending on the engine's libm).  One shuffle on the tiny
    (source, bucket) key space with map-side partial aggregation."""
    docs = _docs(spark, sf_dir)
    n_tok = text.token_count(F.col("text")).cast("long")
    bucket = (
        F.when(n_tok <= 0, F.lit(0)).otherwise(F.length(F.bin(n_tok)))
    ).cast("long")
    staged = docs.select(
        "source", n_tok.alias("n_tok"), bucket.alias("tok_bucket")
    )
    return staged.groupBy("source", "tok_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


SQL_TEXT_TOKEN_HISTOGRAM = r"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok
  FROM documents
)
SELECT source,
       (CASE WHEN n_tok <= 0 THEN 0 ELSE length(bin(n_tok)) END)::BIGINT
         AS tok_bucket,
       COUNT(*) AS n_docs,
       MIN(n_tok)::BIGINT AS min_tokens,
       MAX(n_tok)::BIGINT AS max_tokens
FROM t
GROUP BY 1, 2
"""


def doc_split_leakage(spark, sf_dir):
    """Train→test leakage audit: every TRAIN-split document sharing a
    word 4-gram with any TEST-split document, with its leaked-gram
    count — the eval-contamination check a dataset release runs before
    shipping (a frozen split stops eval drift, but only this audit
    catches near-copies of eval docs sitting in train).  Composes
    functions/sampling.py assign_split with the broadcast n-gram join
    of doc_decontam: the test split is 2% by construction, so its gram
    set broadcasts; the train side streams."""
    docs = _docs(spark, sf_dir)
    split = sampling.assign_split(F.col("doc_id"), SPLITS)
    train = docs.filter(split == F.lit("train"))
    test = docs.filter(split == F.lit("test"))
    return (
        dedup.contaminated_docs(train, test, n=4)
        .withColumnRenamed("n_contaminated_grams", "n_leaked_grams")
    )


SQL_DOC_SPLIT_LEAKAGE = r"""
WITH s AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
  FROM documents
),
toks AS (
  SELECT doc_id, b,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM s
),
g AS (
  SELECT doc_id, b,
         CASE WHEN len(t) >= 4
              THEN list_distinct(list_transform(range(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+3], ' ')))
              ELSE []::VARCHAR[] END AS gs
  FROM toks
),
bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE b >= 98)
SELECT c.doc_id, COUNT(*) AS n_leaked_grams
FROM (SELECT doc_id, unnest(gs) AS gr FROM g WHERE b < 96) c
JOIN bg USING (gr)
GROUP BY c.doc_id
"""


# --- token-budget quota sample (registered round 8) --------------------
#
# doc_token_budget was pre-staged (written + oracle-verified) in
# round 7 and registered in round 8.

def doc_token_budget(spark, sf_dir):
    """Token-budgeted mixture building: per source, the deterministic
    md5-ordered document prefix whose cumulative token count fits an
    800-token budget — mixture recipes are stated in tokens, not doc
    counts, so the doc-fraction samplers can't express them.  The
    corpus never crosses one total-order window: the 60-bit order key
    is range-sharded on its top bits, shard subtotals make a
    driver-scale offset frame, shards past the budget are dropped
    before the detail window, and the per-row cumulative sum runs per
    (source, shard) in parallel (functions/sampling.py for the 100 TB
    rationale)."""
    from reflinkcep_spark.functions.sampling import token_budget_sample

    return token_budget_sample(_docs(spark, sf_dir), budget=800)


SQL_DOC_TOKEN_BUDGET = r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY ok, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM d
)
SELECT doc_id, source, n_tok, cum_tok::BIGINT AS cum_tok
FROM c WHERE cum_tok <= 800
"""


# --- substring-span dedup (registered round 9; pre-staged round 8) ------

def dedup_substring_spans(spark, sf_dir):
    """Duplicate-span detection (Lee et al. 2022): maximal runs of
    ≥ 40 consecutive tokens shared verbatim between two documents —
    catches the pasted-boilerplate / long-quote overlaps that both
    exact dedup (whole-doc) and set similarity (order-blind) miss.
    md5 gram hashes so every value is DuckDB-replayable; xxhash64 is
    the function's production default (hash values never reach the
    output — see functions/dedup.py:substring_spans for the capped
    posting-index scale shape and the diagonal run-merge)."""
    return dedup.substring_spans(
        _docs(spark, sf_dir), min_len=40, k=8, hash_fn="md5"
    )


# Same pipeline in SQL: per-position k-gram hashes (k=8), max_df-capped
# posting self-join, diagonal run-merge via pos - row_number.
SQL_DEDUP_SUBSTRING_SPANS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT AS h
  FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)
  WHERE len(tk) >= 8
),
rare AS (
  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) <= 64
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS diag
  FROM grams a JOIN rare USING (h) JOIN grams b USING (h)
  WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
  FROM pairs
)
SELECT doc_a, doc_b,
       min(pos_a)::BIGINT AS start_a,
       (min(pos_a) + diag)::BIGINT AS start_b,
       (count(*) + 7)::BIGINT AS span_len
FROM runs
GROUP BY doc_a, doc_b, diag, run_id
HAVING count(*) + 7 >= 40
"""


# --- substring-span SCRUB (registered round 9; pre-staged round 8) ------

def dedup_scrub_spans(spark, sf_dir):
    """The ACTION half of substring dedup (Lee et al. 2022 ExactSubstr
    removes the duplicated TEXT, not the document): spans found by
    dedup_substring_spans are deleted from every document except the
    lowest-id copy; whole-document duplicates scrub to the empty
    string.  One row per input document with an n_removed audit count
    (functions/dedup.py:scrub_spans — the span-carrying 1% of the
    corpus is isolated by a semi join before any token explodes)."""
    return dedup.scrub_spans(
        _docs(spark, sf_dir), min_len=40, k=8, hash_fn="md5"
    )


# Same spans CTE chain as SQL_DEDUP_SUBSTRING_SPANS (min_len=40, k=8),
# then: victims rebuilt from their positions OUTSIDE every interval
# (NOT EXISTS = interval-union semantics), non-victims pass through
# with their ORIGINAL text verbatim.
SQL_DEDUP_SCRUB_SPANS = r"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(tk[i:i+7], ' ')), 1, 15))::BIGINT AS h
  FROM toks, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)
  WHERE len(tk) >= 8
),
rare AS (
  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) <= 64
),
prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS diag
  FROM grams a JOIN rare USING (h) JOIN grams b USING (h)
  WHERE a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS run_id
  FROM prs
),
spans AS (
  SELECT doc_b AS victim,
         min(pos_a) + diag AS iv_start,
         min(pos_a) + diag + count(*) + 7 AS iv_end
  FROM runs
  GROUP BY doc_a, doc_b, diag, run_id
  HAVING count(*) + 7 >= 40
),
pos AS (
  SELECT t.doc_id, u.i - 1 AS pos, t.tk[u.i] AS tok
  FROM toks t, UNNEST(generate_series(1, len(t.tk))) AS u(i)
  WHERE t.doc_id IN (SELECT victim FROM spans)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.victim = p.doc_id
                      AND p.pos >= s.iv_start AND p.pos < s.iv_end)
),
agg AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) AS kept_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CASE WHEN t.doc_id IN (SELECT victim FROM spans)
            THEN COALESCE(a.kept_text, '') ELSE t.text END AS text_clean,
       CASE WHEN t.doc_id IN (SELECT victim FROM spans)
            THEN len(t.tk) - COALESCE(a.n_kept, 0) ELSE 0 END::BIGINT
         AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


# --- semantic dedup / SemDeDup (registered round 9; pre-staged round 8) -

def dedup_semantic(spark, sf_dir):
    """SemDeDup over the embeddings table: IVF-quantizer clusters, then
    drop every vector with a ≥ 0.3-cosine LOWER-ID neighbor in its
    cluster (keep-lowest-id representative rule).  Deterministic end to
    end — seeded id-ordered quantizer fit, centroid literals — so the
    whole pipeline replays in DuckDB (functions/similarity.py
    semantic_dedup for the one-exchange scale shape)."""
    return similarity.semantic_dedup(
        _embs(spark, sf_dir), threshold=0.3, n_cells=16
    )


def _sql_dedup_semantic(sf_dir: str | None = None) -> str:
    """Lazy oracle (reads parquet + KMeans fit — see _sql_ivf_parts):
    identical cell assignment, then the per-vector minimum lower-id
    same-cell witness at the same threshold."""
    cc, ranked = _sql_ivf_parts(sf_dir)
    return f"""
WITH cc AS (SELECT {cc} AS CC),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, ({ranked})[1] AS cell FROM c, cc
)
SELECT b.vec_id, b.cell,
       MIN(CASE WHEN list_cosine_similarity(a.v, b.v) >= 0.3
                THEN a.vec_id END) AS dup_of,
       MIN(CASE WHEN list_cosine_similarity(a.v, b.v) >= 0.3
                THEN a.vec_id END) IS NULL AS keep
FROM assigned b
LEFT JOIN assigned a ON a.cell = b.cell AND a.vec_id < b.vec_id
GROUP BY b.vec_id, b.cell
"""


# --- DSIR importance weighting (registered round 10) --------------------
#
# Pre-staged and oracle-verified in round 9; registered in round 10.

def doc_importance_weights(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): hashed-bigram importance
    of every document against the src0/src1 "trusted" target slice,
    exact-integer ratio-of-means score (one IEEE divide — no ln()
    drift), keep iff more target-like than the raw corpus average.
    functions/sampling.py:importance_weights for the one-broadcast
    scale shape (the stats table is ≤ `buckets` rows at ANY corpus
    size)."""
    return sampling.importance_weights(
        _docs(spark, sf_dir),
        F.col("source").isin("src0", "src1"),
        n=2,
        buckets=256,
        alpha=1,
        threshold=1.0,
    )


# Same pipeline in SQL: md5 gram buckets, per-bucket target/raw counts,
# per-doc exact-integer sums, one HUGEINT-product-ratio divide.
SQL_DOC_IMPORTANCE_WEIGHTS = r"""
WITH toks AS (
  SELECT doc_id, source IN ('src0', 'src1') AS tgt,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, tgt,
         ('0x' || substr(md5(array_to_string(tk[i:i+1], ' ')), 1, 15))::BIGINT
           % 256 AS b
  FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 2
),
cnt AS (
  SELECT b,
         count(*) FILTER (WHERE tgt) AS tgt_c,
         count(*) AS raw_c
  FROM grams GROUP BY b
),
tot AS (SELECT sum(tgt_c) AS tgt_total, sum(raw_c) AS raw_total FROM cnt),
perdoc AS (
  SELECT g.doc_id, count(*) AS n_grams,
         sum(c.tgt_c) AS sum_tgt, sum(c.raw_c) AS sum_raw
  FROM grams g JOIN cnt c USING (b)
  GROUP BY g.doc_id
),
scored AS (
  SELECT p.doc_id, p.n_grams,
         ((p.sum_tgt + p.n_grams)::HUGEINT * (t.raw_total + 256))::DOUBLE
           / ((p.sum_raw + p.n_grams)::HUGEINT * (t.tgt_total + 256))::DOUBLE
           AS score
  FROM perdoc p, tot t
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0)::BIGINT AS n_grams,
       s.score,
       COALESCE(s.score >= 1.0, FALSE) AS keep
FROM toks d LEFT JOIN scored s USING (doc_id)
"""


# --- intra-document paragraph dedup (registered round 10) ---------------
#
# Pre-staged and oracle-verified in round 9; registered in round 10.

def text_dedup_paragraphs(spark, sf_dir):
    """Intra-document repetition removal (RefinedWeb/MassiveText exact
    paragraph dedup): inside each document, drop every paragraph equal
    to an earlier one and reassemble — the curation action ExactSubstr
    (dedup_scrub_spans) does NOT cover, because it only fires on
    cross-document duplication.  Zero exchanges: a per-row
    split → array_distinct → join fold (functions/text.py:
    dedup_paragraphs).  This synthetic corpus has no newline
    structure (zero docs contain a line break), so the unit is fixed
    2-token runs, which the generator's tiny vocabulary does repeat
    within documents; real corpora use the default sep='\\n' mode."""
    return text.dedup_paragraphs(_docs(spark, sf_dir), unit_tokens=2)


# Same pipeline in SQL: 2-token chunks at odd positions, first
# occurrence per (doc, chunk) kept via row_number, reassembled in
# position order.
SQL_TEXT_DEDUP_PARAGRAPHS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, i, array_to_string(tk[i:i+1], ' ') AS chunk
  FROM toks, UNNEST(generate_series(1, len(tk), 2)) AS u(i)
),
r AS (
  SELECT doc_id, i, chunk,
         ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY i) AS rn
  FROM ch
),
agg AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE rn = 1) AS text_clean,
         count(*) FILTER (WHERE rn > 1) AS n_removed
  FROM r GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       COALESCE(a.n_removed, 0)::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


# --- quality-aware canonicalization (registered round 10) ---------------
#
# Pre-staged and oracle-verified in round 9; registered in round 10.

def dedup_canonical_quality(spark, sf_dir):
    """Quality-aware canonical-doc selection: resolve the n-gram-
    Jaccard pair graph into clusters (dedup_clusters' pipeline), then
    keep the HIGHEST-QUALITY member of each cluster instead of the
    lowest-id one — quality here is distinct-token count (vocabulary
    richness: an exact integer both engines compute identically),
    ties to the smallest id.  The selection step of RefinedWeb/Dolma-
    style curation, where the canonical copy of a near-dup group
    should be the best one, not the first-crawled one.
    functions/dedup.py:canonical_docs — a lexicographic struct-MAX
    aggregate (map-side combinable), not a row_number window.

    Scale note: the quality projection is computed AFTER a semi join
    against the membership frame (the dedup_scrub_spans victim-
    isolation trick) — members are a tiny fraction of any real corpus,
    so the non-member 99% is never tokenized for a score nobody
    reads."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    # Referenced twice (semi-join scope + the canonical join):
    members = dedup.duplicate_clusters(pairs).localCheckpoint(eager=False)
    quality = docs.join(
        members.select("doc_id"), "doc_id", "left_semi"
    ).select(
        "doc_id",
        F.size(F.array_distinct(text.tokens(F.col("text"))))
        .cast("long")
        .alias("n_types"),
    )
    return dedup.canonical_docs(members, quality, quality_col="n_types")


# Same pipeline in SQL: the recursive-CTE transitive closure of
# SQL_DEDUP_CLUSTERS plus a per-cluster argmax window.
SQL_DEDUP_CANONICAL_QUALITY = rf"""
WITH RECURSIVE pairs AS ({SQL_NGRAM_JACCARD}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, w) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.w
),
memb AS (
  SELECT u AS doc_id, LEAST(u, MIN(w))::BIGINT AS cluster_id
  FROM reach GROUP BY u
),
q AS (
  SELECT doc_id,
         len(list_distinct(list_filter(
           string_split_regex(trim(text), '\s+'), x -> x <> '')))::BIGINT
           AS n_types
  FROM documents
),
r AS (
  SELECT m.cluster_id, m.doc_id, q.n_types,
         ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                            ORDER BY q.n_types DESC, m.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY m.cluster_id) AS n_members
  FROM memb m JOIN q USING (doc_id)
)
SELECT cluster_id,
       doc_id::BIGINT AS canonical_doc_id,
       n_types AS canonical_n_types,
       n_members::BIGINT AS n_members
FROM r WHERE rn = 1
"""


# --- CCNet quality tiers (registered round 10) --------------------------
#
# Pre-staged and oracle-verified in round 9; registered in round 10.

def text_quality_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail quality tiers (Wenzek et al. 2020)
    from the corpus's own bigram statistics: head = doc mean bigram df
    ≥ corpus mean, tail = below 15/16 of the corpus mean, middle
    between — every boundary an exact decimal(38,0) integer
    cross-multiply, so tier assignment is bit-stable across engines.
    The tail fraction is 15/16 rather than CCNet's wider cut because
    the generator's tiny vocabulary concentrates every doc's mean
    bigram df within ±14% of the corpus mean (measured at sf0.001 and
    sf0.01) — at 1/2 the tail tier would be structurally empty here;
    real corpora use the default.  functions/text.py:quality_buckets —
    the lm_quality scale shape plus one broadcast 1-row global
    aggregate; the corpus never shuffles for the cutoffs."""
    return text.quality_buckets(_docs(spark, sf_dir), tail_ratio=(15, 16))


# Same pipeline in SQL: per-doc exact integer sums, HUGEINT
# cross-multiplies against the 1-row global sums.
SQL_TEXT_QUALITY_BUCKETS = r"""
WITH bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
    FROM documents
  ), UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
),
cnt AS (SELECT bg, COUNT(*) AS bdf FROM bg GROUP BY bg),
doc AS (
  SELECT doc_id, COUNT(*) AS n_bg, SUM(bdf)::HUGEINT AS sum_bdf
  FROM bg JOIN cnt USING (bg)
  GROUP BY doc_id
),
g AS (SELECT SUM(n_bg)::HUGEINT AS g_n, SUM(sum_bdf)::HUGEINT AS g_sum FROM doc)
SELECT CASE WHEN sum_bdf * g_n >= g_sum * n_bg THEN 'head'
            WHEN 16 * sum_bdf * g_n < 15 * g_sum * n_bg THEN 'tail'
            ELSE 'middle' END AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n_bg)::BIGINT AS n_bigrams
FROM doc, g
GROUP BY 1
"""


# --- fuzzy intra-document paragraph dedup (registered round 11) -----
#
# text_dedup_paragraphs_fuzzy was pre-staged in round 10 and REGISTERED in
# round 11.

def text_dedup_paragraphs_fuzzy(spark, sf_dir):
    """NEAR-duplicate intra-doc unit removal (Gopher's duplicate-line
    family extended from equality to n-gram Jaccard): inside each
    document, drop every 4-token run whose bigram-shingle Jaccard
    against an EARLIER run clears 1/3, and reassemble — the mutated-
    boilerplate case the exact filter (text_dedup_paragraphs) misses.
    functions/text.py:dedup_paragraphs_fuzzy — zero exchanges, exact
    integer cross-multiply boundary.  As with the exact sibling, this
    corpus has no newline structure, so the unit is fixed 4-token runs
    and the threshold is low (the generator's tiny vocabulary makes
    its within-doc near-dups share only 1-2 bigrams of 3); real
    corpora use sep='\\n' and a 1/2-ish threshold."""
    return text.dedup_paragraphs_fuzzy(
        _docs(spark, sf_dir), unit_tokens=4, threshold=(1, 3), shingle_n=2
    )


# Same pipeline in SQL: 4-token chunks, per-chunk distinct bigram sets
# (sub-2-token chunks fall back to the whole run), i<j self-join with
# the cross-multiplied Jaccard test, survivors reassembled in order.
SQL_TEXT_DEDUP_PARAGRAPHS_FUZZY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, i, tk[i:i+3] AS u
  FROM toks, UNNEST(generate_series(1, len(tk), 4)) AS s(i)
),
sh AS (
  SELECT doc_id, i, array_to_string(u, ' ') AS chunk,
         CASE WHEN len(u) >= 2
              THEN list_distinct(list_transform(
                     generate_series(1, len(u) - 1),
                     j -> u[j] || ' ' || u[j + 1]))
              ELSE [array_to_string(u, ' ')]
         END AS s
  FROM ch
),
dup AS (
  SELECT b.doc_id, b.i
  FROM sh a JOIN sh b ON a.doc_id = b.doc_id AND a.i < b.i
  WHERE 3 * len(list_intersect(a.s, b.s))
        >= 1 * len(list_distinct(list_concat(a.s, b.s)))
  GROUP BY b.doc_id, b.i
),
agg AS (
  SELECT s.doc_id,
         string_agg(s.chunk, ' ' ORDER BY s.i) FILTER (WHERE d.i IS NULL)
           AS text_clean,
         count(*) FILTER (WHERE d.i IS NOT NULL) AS n_removed
  FROM sh s LEFT JOIN dup d USING (doc_id, i)
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       COALESCE(a.n_removed, 0)::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


# --- per-source contamination matrix (registered round 11) ----------
#
# doc_contamination_matrix was pre-staged in round 10 and REGISTERED in
# round 11.

def doc_contamination_matrix(spark, sf_dir):
    """Per-(source × benchmark) contamination matrix: docs 0-24 stand
    in as five eval suites (doc_id % 5), the rest of the corpus is the
    training candidate grouped by its crawl source; each matrix cell
    counts contaminated docs and leaked-gram hits.  The dataset-card
    release audit — doc_decontam says WHICH documents to drop, this
    says WHICH SOURCE leaked WHICH benchmark.  String grams so DuckDB
    reproduces the join; production uses ``hashed=True``
    (functions/dedup.py:contamination_matrix for the broadcast plan
    shape)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") < 25).select(
        "doc_id",
        "text",
        F.concat(F.lit("suite"), F.col("doc_id") % 5).alias("bench"),
    )
    corpus = docs.filter(F.col("doc_id") >= 25)
    return dedup.contamination_matrix(corpus, bench, n=4)


SQL_DOC_CONTAMINATION_MATRIX = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, source,
         CASE WHEN len(t) >= 4
              THEN list_distinct(list_transform(range(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+3], ' ')))
              ELSE []::VARCHAR[] END AS gs
  FROM toks
),
bg AS (
  SELECT DISTINCT 'suite' || (doc_id % 5)::VARCHAR AS bench, unnest(gs) AS gr
  FROM g WHERE doc_id < 25
),
hits AS (
  SELECT c.source, b.bench, c.doc_id
  FROM (SELECT doc_id, source, unnest(gs) AS gr FROM g WHERE doc_id >= 25) c
  JOIN bg b USING (gr)
)
SELECT source, bench,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_gram_hits
FROM hits
GROUP BY source, bench
"""


# --- token-exact mixture rebalancing (registered round 11) ----------
#
# doc_mixture_rebalance was pre-staged in round 10 and REGISTERED in
# round 11.

def doc_mixture_rebalance(spark, sf_dir):
    """Token-count-exact mixture rebalancing: re-cut the corpus to a
    5:3:2 token recipe across three named sources under a 2 000-token
    total budget — per-source budgets are exact floor divisions, doc
    selection is the frozen md5 prefix, sources outside the recipe
    never tokenize (functions/sampling.py:mixture_token_rebalance for
    the range-sharded prefix machinery and its 100 TB rationale)."""
    from reflinkcep_spark.functions.sampling import mixture_token_rebalance

    return mixture_token_rebalance(
        _docs(spark, sf_dir),
        {"src0": 5, "src1": 3, "src2": 2},
        budget=2000,
    )


SQL_DOC_MIXTURE_REBALANCE = r"""
WITH w AS (
  SELECT * FROM (VALUES ('src0', 2000 * 5 // 10),
                        ('src1', 2000 * 3 // 10),
                        ('src2', 2000 * 2 // 10)) AS t(source, src_budget)
),
d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> ''))::BIGINT AS n_tok,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ok
  FROM documents
  WHERE source IN (SELECT source FROM w)
),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY ok, doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_tok
  FROM d
)
SELECT c.doc_id, c.source, c.n_tok, c.cum_tok::BIGINT AS cum_tok,
       w.src_budget::BIGINT AS src_budget
FROM c JOIN w USING (source)
WHERE c.cum_tok <= w.src_budget
"""


# --- URL-canonical dedup (registered round 12) ---------------------------
#
# dedup_url_canonical was pre-staged + oracle-verified round 11 and
# REGISTERED in round 12.

def dedup_url_canonical(spark, sf_dir):
    """URL-level dedup groups (functions/web.py — RefinedWeb's first
    dedup stage).  The documents table has no URL column, so the query
    derives a deterministic raw URL per document IN-QUERY — the same
    string algebra on both engines, so the oracle checks the builder
    AND the canonicalizer — with every alias class the canonicalizer
    handles exercised by construction: scheme case/http-vs-https
    (doc_id%2), optional WWW. (doc_id%3), host case (doc_id%5),
    BOTH default ports (:80 on doc_id%8==0, :443 on doc_id%8==4 —
    disjoint residues so each branch is reachable), trailing slash
    (doc_id%5), tracking params on even ids / a `ref` param and a
    fragment on other residues (doc_id%2, doc_id%3==1), and
    query-parameter order flipped by doc_id%2.  The resource identity
    is (source, 7·doc_id mod 200), so groups have >1 member at every
    SF and dedup does real work.  Scale shape: codegen projection +
    ONE map-side-combinable keyed aggregate (see dedup_by_url)."""
    from reflinkcep_spark.functions import web

    d = _docs(spark, sf_dir)
    return web.dedup_by_url(d.select("doc_id", _raw_url().alias("url")))


def _raw_url():
    """The deterministic raw-URL builder shared by the batch driver
    query above and the streaming twin (__spark_entry__.py
    dedup_url_canonical_stream) — one definition so the two surfaces
    canonicalize the same strings."""
    did = F.col("doc_id")
    k = (did * 7) % 200
    return F.concat(
        F.when(did % 2 == 0, F.lit("http://")).otherwise(F.lit("HTTPS://")),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.upper(F.col("source"))).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(did % 8 == 0, F.lit(":80"))
         .when(did % 8 == 4, F.lit(":443"))
         .otherwise(F.lit("")),
        F.lit("/Docs/"), k.cast("string"),
        F.when(did % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(F.lit("?id="), k.cast("string"),
                     F.lit("&utm_campaign=c"), (did % 7).cast("string"),
                     F.lit("&v=2")),
        ).otherwise(
            F.concat(F.lit("?v=2&id="), k.cast("string"), F.lit("&ref=feed"))
        ),
        F.when(did % 3 == 1, F.lit("#sec")).otherwise(F.lit("")),
    )


# The oracle rebuilds the same raw URL and canonicalizes it with
# DuckDB's regex/list functions — an independent implementation of the
# same normalization contract (web.canonical_url's docstring).
SQL_DEDUP_URL_CANONICAL = r"""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END)
         || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END)
         || '.Example.COM'
         || (CASE WHEN doc_id % 8 = 0 THEN ':80'
                  WHEN doc_id % 8 = 4 THEN ':443'
                  ELSE '' END)
         || '/Docs/' || (doc_id * 7) % 200
         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 2 = 0
                  THEN '?id=' || (doc_id * 7) % 200
                       || '&utm_campaign=c' || doc_id % 7 || '&v=2'
                  ELSE '?v=2&id=' || (doc_id * 7) % 200 || '&ref=feed' END)
         || (CASE WHEN doc_id % 3 = 1 THEN '#sec' ELSE '' END) AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(trim(url), '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS u
  FROM raw
),
split_up AS (
  SELECT doc_id,
         regexp_replace(u, '\?.*$', '') AS hostpath,
         regexp_extract(u, '\?(.*)$', 1) AS rawq
  FROM parts
),
canon AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(
             lower(regexp_extract(hostpath, '^([^/]*)', 1)),
             '^www\.', ''), ':(80|443)$', '')
         || regexp_replace(
             regexp_extract(hostpath, '^[^/]*(/.*)$', 1), '/+$', '')
         || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
  FROM (
    SELECT doc_id, hostpath,
           array_to_string(list_sort(list_filter(
             string_split(rawq, '&'),
             x -> x <> '' AND NOT list_contains(
               ['utm_source','utm_medium','utm_campaign','utm_term',
                'utm_content','utm_id','gclid','fbclid','msclkid',
                'mc_cid','mc_eid','ref','referrer','igshid'],
               lower(regexp_extract(x, '^([^=]*)', 1))))), '&') AS q
    FROM split_up
  )
)
SELECT canonical_url, MIN(doc_id)::BIGINT AS canonical_doc_id,
       (COUNT(*) - 1)::BIGINT AS n_dups
FROM canon GROUP BY 1
"""


# doc_domain_caps is implemented and locally oracle-verified but NOT
# registered in queries().
# The cap is a module constant so the Spark query and the SQL oracle
# share ONE definition (the CMS_PROBE_TERMS convention).
_DOMAIN_CAP = 10


def doc_domain_caps(spark, sf_dir, cap=_DOMAIN_CAP, shards=32):
    """Per-domain document quota — the crawl-curation policy that stops
    one prolific host from dominating a training mix: group by the
    canonical HOST of each document's URL (functions/web.py:domain_of
    over the shared _raw_url builder — the real parsing path), keep
    the ``cap`` most substantial documents per domain (longest text
    first, doc_id tiebreak — a deterministic total order), and emit
    survivors as (doc_id, domain, domain_rank, n_domain_docs).

    Ranking is TWO-PHASE (the tfidf_topk recipe): shard-local
    row_number within (domain, doc_id mod ``shards``) prunes to
    ≤ cap·shards rows per domain BEFORE the final per-domain window,
    so no hot domain ever funnels its full document list through a
    single task — the difference between a cap query that survives a
    100 TB crawl (domains are power-law) and one that dies on the
    first mega-host.  Totals ride a separate map-combinable COUNT agg
    joined back on the domain key — a PLAIN join, not a broadcast: the
    totals table is one row per domain, and at web scale distinct
    domains number in the hundreds of millions, far past any broadcast
    threshold; both sides are already domain-keyed (window + agg), so
    the join reuses that partitioning.  The oracle recomputes the
    domain from the URL
    generation formula (lower(source) || '.example.com') — an
    INDEPENDENT derivation, so a parsing regression in domain_of
    breaks equality."""
    from reflinkcep_spark.functions import web

    d = _docs(spark, sf_dir).select(
        "doc_id",
        web.domain_of(_raw_url()).alias("domain"),
        F.length("text").alias("len"),
    )
    totals = d.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_domain_docs")
    )
    w1 = Window.partitionBy("domain", F.pmod("doc_id", F.lit(shards))).orderBy(
        F.col("len").desc(), "doc_id"
    )
    w2 = Window.partitionBy("domain").orderBy(F.col("len").desc(), "doc_id")
    return (
        d.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= cap)
        .withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .join(totals, "domain")
        .select(
            "doc_id",
            "domain",
            F.col("domain_rank").cast("long").alias("domain_rank"),
            "n_domain_docs",
        )
    )


SQL_DOC_DOMAIN_CAPS = """
WITH d AS (
  SELECT doc_id, lower(source) || '.example.com' AS domain,
         length(text) AS len
  FROM documents
),
t AS (SELECT domain, COUNT(*)::BIGINT AS n_domain_docs FROM d GROUP BY 1),
r AS (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain
                            ORDER BY len DESC, doc_id) AS domain_rank
  FROM d
)
SELECT r.doc_id, r.domain, r.domain_rank::BIGINT AS domain_rank,
       t.n_domain_docs
FROM r JOIN t USING (domain) WHERE domain_rank <= {cap}
""".format(cap=_DOMAIN_CAP)


# --- cross-document paragraph dedup (registered round 12) ----------------
#
# text_dedup_paragraphs_global was pre-staged + oracle-verified round
# 11 and REGISTERED in the round-12 rotation.

def text_dedup_paragraphs_global(spark, sf_dir):
    """CROSS-document unit dedup (functions/text.py
    dedup_paragraphs_global — CCNet's per-snapshot paragraph-hash
    dedup): every 4-token run keeps only its corpus-wide FIRST
    occurrence by (doc_id, position); all later occurrences in any
    document are scrubbed and survivors reassembled in order.  The
    inter-document sibling of the registered intra-doc pair
    (text_dedup_paragraphs / _fuzzy).  Scale shape: three keyed
    exchanges over the unit-occurrence table (combinable MIN argmin,
    unit-keyed semi-style join, doc-keyed reassembly) — see the
    operator docstring."""
    return text.dedup_paragraphs_global(_docs(spark, sf_dir), unit_tokens=4)


SQL_TEXT_DEDUP_PARAGRAPHS_GLOBAL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, i, array_to_string(tk[i:i+3], ' ') AS chunk
  FROM toks, UNNEST(generate_series(1, len(tk), 4)) AS u(i)
),
r AS (
  SELECT doc_id, i, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, i) AS rn
  FROM ch
),
agg AS (
  SELECT doc_id,
         string_agg(chunk, ' ' ORDER BY i) FILTER (WHERE rn = 1) AS text_clean,
         count(*) FILTER (WHERE rn > 1) AS n_removed
  FROM r GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       COALESCE(a.n_removed, 0)::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


# --- cross-document NEAR-dup paragraph removal (registered round 12) -----
#
# text_dedup_xdoc_fuzzy was pre-staged + oracle-verified round 11 and
# REGISTERED in round 12.

def text_dedup_xdoc_fuzzy(spark, sf_dir):
    """CROSS-document NEAR-dup unit removal (functions/text.py
    dedup_paragraphs_global_fuzzy) — the last cell of the paragraph-
    dedup 2×2: syndicated near-boilerplate across pages.  Same 4-token
    units / bigram shingles / exact 1/3 Jaccard cross-multiply as the
    registered intra-doc fuzzy pass; candidates from a shingle-keyed
    inverted index with an ABSOLUTE 64-posting cap (the
    ngram_jaccard recall-for-cost trade — at this corpus's sf0.01 df
    profile nothing is hot, so the gate exercises the full verify
    path).  Scale shape: capped posting self-join + occurrence
    distinct + mark/reassembly — see the operator docstring."""
    return text.dedup_paragraphs_global_fuzzy(
        _docs(spark, sf_dir), unit_tokens=4, threshold=(1, 3),
        shingle_n=2, max_df=64,
    )


SQL_TEXT_DEDUP_XDOC_FUZZY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, i, tk[i:i+3] AS u
  FROM toks, UNNEST(generate_series(1, len(tk), 4)) AS s(i)
),
sh AS (
  SELECT doc_id, i, array_to_string(u, ' ') AS chunk,
         CASE WHEN len(u) >= 2
              THEN list_distinct(list_transform(
                     generate_series(1, len(u) - 1),
                     j -> u[j] || ' ' || u[j + 1]))
              ELSE [array_to_string(u, ' ')]
         END AS s
  FROM ch
),
post AS (SELECT doc_id, i, s, unnest(s) AS g FROM sh),
cold AS (
  SELECT * FROM post
  WHERE g NOT IN (SELECT g FROM post GROUP BY g HAVING COUNT(*) > 64)
),
dup AS (
  SELECT b.doc_id, b.i
  FROM cold a JOIN cold b ON a.g = b.g
       AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.i < b.i))
  WHERE 3 * len(list_intersect(a.s, b.s))
        >= 1 * len(list_distinct(list_concat(a.s, b.s)))
  GROUP BY b.doc_id, b.i
),
agg AS (
  SELECT s.doc_id,
         string_agg(s.chunk, ' ' ORDER BY s.i) FILTER (WHERE d.i IS NULL)
           AS text_clean,
         count(*) FILTER (WHERE d.i IS NOT NULL) AS n_removed
  FROM sh s LEFT JOIN dup d USING (doc_id, i)
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       COALESCE(a.n_removed, 0)::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


# --- product-quantization ANN (registered round 12) ----------------------
#
# sim_ann_pq was pre-staged + oracle-verified round 11 and REGISTERED
# in the round-12 rotation.

def sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance
    (functions/similarity.py pq_ann_topk — Jégou et al. 2011 / FAISS
    IndexPQ): 64 float dims → 16 one-byte codes (16× payload cut;
    the synthetic corpus's distance concentration wants the finer
    16-subspace grid — see the recall test's measurement note),
    query-time ranking over codes without decoding.  The per-subspace KMeans fit is
    deterministic (seeded, id-ordered bounded sample), so the whole
    pipeline — fit, encode, ADC, top-k — carries a DuckDB oracle with
    recomputed codebooks embedded as literals (_sql_sim_ann_pq); code
    agreement with the oracle checks encode AND scoring bit-for-bit.
    Full-scan ADC by design (the cosine_topk shape over 32× smaller
    payload); IVF-cell composition is the documented next step."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    out = similarity.pq_ann_topk(embs, queries, k=5, m_sub=16, ksub=16)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id", "adc"
    )


def _sql_sim_ann_pq(sf_dir: str | None = None) -> str:
    """DuckDB oracle for the full PQ/ADC pipeline: recompute the
    IDENTICAL per-subspace codebooks offline (numpy k-means++/Lloyd,
    seed 42+m, id-ordered sample — similarity._fit_pq_codebooks) and
    embed them as one nested literal; encoding (argmin over
    sub-centroids, ties to the lower code) and ADC (subspaces folded
    left-to-right, dimensions folded left-to-right inside each) are
    re-expressed in SQL with the same fold order bit-for-bit.  Lazy
    like _sql_sim_ann_ivf: reads parquet + pays the KMeans fits only
    when oracle_sql() is built."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    m_sub, ksub = 16, 16
    if sf_dir is None:
        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    order = np.argsort(np.array(tbl.column("vec_id").to_pylist()), kind="stable")
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)[order][
        : 256 * ksub
    ]
    dim = X.shape[1]
    dsub = dim // m_sub
    books = [
        similarity._fit_centroids(X[:, m * dsub : (m + 1) * dsub], ksub, 42 + m)
        for m in range(m_sub)
    ]
    cb = (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(repr(float(x)) for x in ctr) + "]" for ctr in book
            )
            + "]"
            for book in books
        )
        + "]"
    )
    # squared distance of subvector m of `vec` to sub-centroid kk
    # (both 0-based), exact left-to-right fold — `vec` is a SQL
    # identifier spliced in so the same expression serves encode (v)
    # and ADC (qv)
    def _subsq(vec: str, kk: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dsub + 1}), "
            f"j -> ({vec}[m * {dsub} + j] - CB[m + 1][({kk}) + 1][j]) "
            f"* ({vec}[m * {dsub} + j] - CB[m + 1][({kk}) + 1][j]))), "
            f"(a, b) -> a + b)"
        )

    encode = (
        f"list_transform(range(0, {m_sub}), m -> "
        f"list_transform(list_sort(list_transform(range(0, {ksub}), "
        f"kk -> {{'d': {_subsq('v', 'kk')}, 'k': kk}})), s -> s.k)[1])"
    )
    adc = (
        f"list_reduce(list_prepend(0.0, list_transform(range(0, {m_sub}), "
        f"m -> {_subsq('qv', 'code[m + 1]')})), (a, b) -> a + b)"
    )
    return f"""
WITH cbt AS (SELECT {cb} AS CB),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
enc AS (
  SELECT vec_id AS neighbor_id, {encode} AS code FROM c, cbt
),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.neighbor_id, {adc} AS adc
  FROM enc e, q, cbt
  WHERE e.neighbor_id <> q.query_id
),
r AS (
  SELECT query_id, neighbor_id, adc,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, rnk, neighbor_id, ROUND(adc, 6) AS adc
FROM r WHERE rnk <= 5
"""


# --- per-source quality-tier calibration (registered round 12) -----------
#
# doc_quality_calibration was pre-staged + oracle-verified round 11
# and REGISTERED in the round-12 rotation.

def doc_quality_calibration(spark, sf_dir):
    """Per-source CCNet-tier calibration (functions/text.py
    quality_tier_calibration): each source's head/middle/tail mix
    against the CORPUS-level cutoffs, with exact-integer ppm share and
    lift — the dataset-card table behind per-source quality quotas.
    Same 15/16 tail ratio as the registered text_quality_buckets (the
    synthetic corpus's df concentration — see that query's docstring).
    Scale shape: the quality_buckets pipeline (source rides the doc
    aggregate as a dependent grouping key) plus cell/group/bucket/total
    folds over the TIER TABLE, not the corpus."""
    return text.quality_tier_calibration(
        _docs(spark, sf_dir), tail_ratio=(15, 16)
    )


SQL_DOC_QUALITY_CALIBRATION = r"""
WITH bg AS (
  SELECT source, doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM (
    SELECT source, doc_id,
           list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
    FROM documents
  ), UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)
),
cnt AS (SELECT bg, COUNT(*) AS bdf FROM bg GROUP BY bg),
doc AS (
  SELECT source, doc_id, COUNT(*) AS n_bg, SUM(bdf)::HUGEINT AS sum_bdf
  FROM bg JOIN cnt USING (bg)
  GROUP BY 1, 2
),
g AS (SELECT SUM(n_bg)::HUGEINT AS g_n, SUM(sum_bdf)::HUGEINT AS g_sum FROM doc),
tiers AS (
  SELECT source,
         CASE WHEN sum_bdf * g_n >= g_sum * n_bg THEN 'head'
              WHEN 16 * sum_bdf * g_n < 15 * g_sum * n_bg THEN 'tail'
              ELSE 'middle' END AS bucket
  FROM doc, g
),
cell AS (SELECT source, bucket, COUNT(*)::BIGINT AS n_docs FROM tiers GROUP BY 1, 2),
grp AS (SELECT source, SUM(n_docs)::HUGEINT AS n_group FROM cell GROUP BY 1),
bkt AS (SELECT bucket, SUM(n_docs)::HUGEINT AS n_bucket FROM cell GROUP BY 1),
tot AS (SELECT SUM(n_docs)::HUGEINT AS n_all FROM cell)
SELECT c.source, c.bucket, c.n_docs,
       ((1000000::HUGEINT * c.n_docs) // g1.n_group)::BIGINT AS share_ppm,
       ((1000000::HUGEINT * c.n_docs * t.n_all)
         // (g1.n_group * b.n_bucket))::BIGINT AS lift_ppm
FROM cell c
JOIN grp g1 USING (source)
JOIN bkt b USING (bucket)
CROSS JOIN tot t
"""


# --- registered round 13 -------------------------------------------------
#
# Four operators pre-staged and oracle-verified in round 12 and
# registered in round 13.  Pinned by
# tests/test_check_oracles.py::test_prestaged_round13_queries_match_oracles.

def doc_hll_registers(spark, sf_dir):
    """HyperLogLog distinct-token register table per source PLUS the
    corpus-level '(all)' rollup — the mergeable-sketch answer to "how
    many distinct tokens does each crawl source contribute?", the
    dataset-card number that costs a corpus-wide distinct shuffle to
    compute exactly.  Registers (max hash rank per md5-derived bucket)
    are exact integers both engines reproduce bit-for-bit; the float
    harmonic estimate is deliberately left downstream
    (functions/sketch.py:hll_registers for why).  Mergeability is
    checkable in the output itself: every '(all)' register equals the
    MAX of the per-source registers in its bucket."""
    from reflinkcep_spark.functions import sketch

    return sketch.hll_registers(_docs(spark, sf_dir), buckets=64)


SQL_DOC_HLL_REGISTERS = r"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
h AS (
  SELECT source,
         ('0x' || substr(md5(t), 16, 4))::BIGINT % 64 AS bucket,
         CASE WHEN substr(md5(t), 1, 15) = repeat('0', 15) THEN 61
              ELSE 61 - length(bin(('0x' || substr(md5(t), 1, 15))::BIGINT))
         END AS r
  FROM tok
)
SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
       bucket, MAX(r)::BIGINT AS register, COUNT(*)::BIGINT AS n_tokens
FROM h
GROUP BY GROUPING SETS ((source, bucket), (bucket))
"""


def doc_bloom_decontam(spark, sf_dir):
    """Bloom-filter decontamination gate — doc_decontam's fixed-size-
    broadcast sibling (functions/sketch.py:bloom_gate): docs 0-24 are
    the eval suite, their 3-gram Bloom filter (4096 bits, two md5
    hashes) gates the rest of the corpus.  Flag counts INCLUDE the
    filter's deterministic false positives, which the oracle
    reproduces FP-for-FP (both engines hash with md5); the
    no-false-negative guarantee vs the exact semi-join is
    property-tested in tests/test_pipeline_functions.py."""
    from reflinkcep_spark.functions import sketch

    docs = _docs(spark, sf_dir)
    return sketch.bloom_gate(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        n=3,
        m_bits=4096,
    )


SQL_DOC_BLOOM_DECONTAM = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' ')))
              ELSE []::VARCHAR[] END AS gs
  FROM toks
),
bg AS (SELECT DISTINCT unnest(gs) AS gr FROM g WHERE doc_id < 25),
bloom AS (
  SELECT p // 32 AS w, bit_or(1::BIGINT << (p % 32)) AS bits
  FROM (
    SELECT unnest([('0x' || substr(md5(gr),  1, 15))::BIGINT % 4096,
                   ('0x' || substr(md5(gr), 17, 15))::BIGINT % 4096]) AS p
    FROM bg
  )
  GROUP BY 1
),
probe AS (
  SELECT doc_id,
         ('0x' || substr(md5(gr),  1, 15))::BIGINT % 4096 AS p1,
         ('0x' || substr(md5(gr), 17, 15))::BIGINT % 4096 AS p2
  FROM (SELECT doc_id, unnest(gs) AS gr FROM g WHERE doc_id >= 25)
)
SELECT doc_id, COUNT(*)::BIGINT AS n_flagged_grams
FROM probe
JOIN bloom b1 ON b1.w = probe.p1 // 32
JOIN bloom b2 ON b2.w = probe.p2 // 32
WHERE (b1.bits & (1::BIGINT << (probe.p1 % 32))) <> 0
  AND (b2.bits & (1::BIGINT << (probe.p2 % 32))) <> 0
GROUP BY doc_id
"""


def doc_span_merge(spark, sf_dir):
    """Annotation-span consolidation (functions/text.py:merge_spans):
    union each document's tagger spans into their minimal disjoint
    cover and report raw/merged counts plus covered chars.  The
    documents table carries no span column, so spans are derived
    deterministically IN-QUERY from doc_id — the same arithmetic on
    both engines, the dedup_url_canonical convention — with density
    chosen so overlap, touching (half-open [s,e) — touching MERGES),
    containment, and disjointness all occur: doc i gets doc_id%20
    spans, span j = [s, s+3+((doc_id+j)%29)) at s=(doc_id·7+j·13)%997.
    Spark merges with a ZERO-exchange in-row fold; the oracle is the
    classic gaps-and-islands window over the exploded spans — the
    fold is checked against the idiom it replaces."""
    return _span_merge_projection(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 20 != 0)
    )


def _span_merge_projection(docs):
    """The span derivation + merge + stats projection shared by the
    batch driver query and its streaming twin (doc_span_merge_stream in
    __spark_entry__.py) — one definition so the two surfaces cannot
    disagree about the span arithmetic.  Pure stateless column algebra:
    works identically on a batch frame and a streaming frame."""
    spans = F.transform(
        F.sequence(F.lit(0).cast("long"), F.col("doc_id") % 20 - 1),
        lambda j: F.struct(
            ((F.col("doc_id") * 7 + j * 13) % 997).alias("s"),
            ((F.col("doc_id") * 7 + j * 13) % 997 + 3 + (F.col("doc_id") + j) % 29).alias(
                "e"
            ),
        ),
    )
    merged = docs.select(
        "doc_id",
        (F.col("doc_id") % 20).alias("n_spans"),
        text.merge_spans(spans).alias("m"),
    )
    return merged.select(
        "doc_id",
        "n_spans",
        F.size("m").cast("long").alias("n_merged"),
        F.aggregate(
            "m", F.lit(0).cast("long"), lambda acc, sp: acc + sp["e"] - sp["s"]
        ).alias("covered_chars"),
    )


SQL_DOC_SPAN_MERGE = r"""
WITH sp AS (
  SELECT doc_id,
         (doc_id * 7 + j * 13) % 997 AS s,
         (doc_id * 7 + j * 13) % 997 + 3 + (doc_id + j) % 29 AS e
  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0),
       UNNEST(range(0, doc_id % 20)) AS u(j)
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s <= MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_island
  FROM sp
),
islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id, island, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY doc_id, island
)
SELECT doc_id, (doc_id % 20)::BIGINT AS n_spans,
       COUNT(*)::BIGINT AS n_merged,
       SUM(me - ms)::BIGINT AS covered_chars
FROM merged GROUP BY doc_id
"""


def sim_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means (k=8, 2 assignment rounds) over the
    embeddings table in fixed-point arithmetic — the iterative
    refinement algorithm the brief's "custom operators" clause asks
    for, expressed as a declarative broadcast-assign / re-aggregate
    chain that is bit-identical across engines
    (functions/similarity.py:kmeans_fixedpoint: why floats can't be,
    and the 10⁹-row overflow rail).  Output is the final assignment's
    per-cluster size and exact integer inertia."""
    return similarity.kmeans_fixedpoint(
        _embs(spark, sf_dir), k=8, iters=2, scale=10_000
    )


SQL_SIM_KMEANS = r"""
WITH q AS (
  -- CAST to DOUBLE first: a bare 10000.0 literal is DECIMAL in DuckDB
  -- and FLOAT*DECIMAL arithmetic ran in float32, flipping one floor()
  -- at sf0.001 (vec 183 dim 7, 282.99998… → 283).
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (SELECT vec_id AS cluster, q AS c FROM q WHERE vec_id < 8),
d1 AS (
  SELECT v.vec_id, v.q, c.cluster,
         list_sum(list_transform(range(1, len(v.q) + 1),
                  i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS d
  FROM q v CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, q, cluster, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
  FROM d1
),
m1 AS (SELECT vec_id, q, cluster FROM a1 WHERE rn = 1),
s1 AS (
  SELECT cluster, dim, SUM(val)::BIGINT AS s, COUNT(*) AS n
  FROM (SELECT cluster, u.dim AS dim, q[u.dim] AS val
        FROM m1, UNNEST(range(1, len(q) + 1)) AS u(dim))
  GROUP BY cluster, dim
),
c1 AS (
  SELECT cluster,
         list((s - ((s % n + n) % n)) // n ORDER BY dim) AS c
  FROM s1 GROUP BY cluster
),
d2 AS (
  SELECT v.vec_id, c.cluster,
         list_sum(list_transform(range(1, len(v.q) + 1),
                  i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS d
  FROM q v CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, cluster, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
  FROM d2
)
SELECT cluster, COUNT(*)::BIGINT AS n_vecs, SUM(d)::BIGINT AS inertia
FROM a2 WHERE rn = 1
GROUP BY cluster
"""


# --- registered round 14 -------------------------------------------------

def doc_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot reconciliation
    (functions/snapshot.py:snapshot_diff): the delta between two crawl
    snapshots — added / removed / changed documents only, the
    re-process worklist of a corpus refresh.  The documents table is
    one snapshot, so the two sides are derived IN-QUERY with the same
    arithmetic on both engines (the dedup_url_canonical convention):
    the OLD snapshot omits doc_id % 7 == 3 (those become 'added'),
    the NEW omits doc_id % 5 == 2 ('removed'), and doc_id % 11 == 0
    re-fetches with a revision suffix ('changed' when present on both
    sides).  Digests (md5) are computed in the scan projection so the
    ONE full-outer id join carries ~40-byte rows, never documents."""
    from reflinkcep_spark.functions import snapshot

    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    new = docs.filter(F.col("doc_id") % 5 != 2).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text"))
        ).alias("digest"),
    )
    return snapshot.snapshot_diff(old, new)


# The oracle detects presence via digest nullability, which is valid
# for THIS query (md5 of never-NULL text); snapshot_diff itself uses
# explicit presence markers so genuinely-NULL digests (failed fetches)
# classify correctly — tests/test_pipeline_functions.py pins that.
SQL_DOC_SNAPSHOT_DIFF = r"""
WITH o AS (
  SELECT doc_id, source, md5(text) AS d
  FROM documents WHERE doc_id % 7 <> 3
),
n AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END) AS d
  FROM documents WHERE doc_id % 5 <> 2
)
SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
       COALESCE(n.source, o.source) AS source,
       CASE WHEN o.d IS NULL THEN 'added'
            WHEN n.d IS NULL THEN 'removed'
            WHEN o.d <> n.d THEN 'changed' END AS status
FROM o FULL OUTER JOIN n USING (doc_id)
WHERE CASE WHEN o.d IS NULL THEN 'added'
           WHEN n.d IS NULL THEN 'removed'
           WHEN o.d <> n.d THEN 'changed' END IS NOT NULL
"""


def doc_link_pagerank(spark, sf_dir):
    """Scaled-integer PageRank over a derived document link graph
    (functions/graph.py:pagerank_fixedpoint) — the second flagship
    iterative algorithm next to sim_kmeans, in the same fixed-point
    discipline: float PageRank's in-mass sums are summation-order-
    dependent, so ranks here are integer mass units with exact floor
    divisions at every step and the oracle reproduces them bit-for-
    bit.  The documents table has no link column, so edges are
    derived IN-QUERY (the dedup_url_canonical convention): doc u gets
    u % 5 out-links, link j pointing at (u·13 + j·7) mod N — dangling
    nodes (u % 5 == 0), converging hubs, and self-loops all occur by
    construction.  Two damped rounds (85/100), mass 10¹²; output is
    every node's final rank."""
    from reflinkcep_spark.functions import graph

    docs = _docs(spark, sf_dir).select("doc_id")
    nc = docs.agg(F.count(F.lit(1)).alias("n_nodes"))
    edges = (
        docs.crossJoin(F.broadcast(nc))
        .filter(F.col("doc_id") % 5 != 0)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), F.col("doc_id") % 5 - 1),
                    lambda j: (F.col("doc_id") * 13 + j * 7) % F.col("n_nodes"),
                )
            ).alias("dst"),
        )
    )
    return graph.pagerank_fixedpoint(docs, edges, iters=2, id_col="doc_id")


SQL_DOC_LINK_PAGERANK = r"""
WITH nn AS (SELECT COUNT(*)::BIGINT AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id * 13 + j * 7) % nn.n AS dst
  FROM documents, nn, UNNEST(range(0, doc_id % 5)) AS u(j)
),
deg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM e GROUP BY 1),
base AS (
  SELECT doc_id AS id, (1000000000000 // nn.n)::BIGINT AS base
  FROM documents, nn
),
p0 AS (SELECT id, base AS pr FROM base),
c1 AS (
  SELECT p.id AS src, (p.pr // d.outdeg)::BIGINT AS contrib
  FROM p0 p JOIN deg d ON p.id = d.src
),
m1 AS (
  SELECT e.dst, SUM(c.contrib)::BIGINT AS inmass
  FROM e JOIN c1 c USING (src) GROUP BY 1
),
p1 AS (
  SELECT b.id,
         ((15 * b.base) // 100 + (85 * COALESCE(m.inmass, 0)) // 100)::BIGINT AS pr
  FROM base b LEFT JOIN m1 m ON b.id = m.dst
),
c2 AS (
  SELECT p.id AS src, (p.pr // d.outdeg)::BIGINT AS contrib
  FROM p1 p JOIN deg d ON p.id = d.src
),
m2 AS (
  SELECT e.dst, SUM(c.contrib)::BIGINT AS inmass
  FROM e JOIN c2 c USING (src) GROUP BY 1
),
p2 AS (
  SELECT b.id,
         ((15 * b.base) // 100 + (85 * COALESCE(m.inmass, 0)) // 100)::BIGINT AS pr
  FROM base b LEFT JOIN m2 m ON b.id = m.dst
)
SELECT id AS doc_id, pr FROM p2
"""


def sim_jl_project(spark, sf_dir):
    """Integer Johnson–Lindenstrauss projection of the embedding table
    (functions/similarity.py:random_projection_int): 64 → 16
    dimensions, planes and vectors both floor-quantized so every
    output coordinate is an exact integer dot product — embedding
    COMPRESSION as a zero-exchange codegen projection (the 16×
    payload cut that makes a 100 TB embedding corpus joinable), with
    values any engine reproduces bit-for-bit where float projections
    cannot.  Long-format output (vec_id, dim, proj); JL distance-
    order preservation is property-tested, exactness is the
    oracle's job."""
    return similarity.random_projection_int(_embs(spark, sf_dir))


def _sql_sim_jl_project() -> str:
    import math as _math

    from reflinkcep_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(64, 16, 7)
    ip = [[_math.floor(x * 1_000) for x in p] for p in planes]
    rows = ",".join(
        f"({j}, {str(ip[j]).replace(' ', '')}::BIGINT[])" for j in range(16)
    )
    return f"""
WITH planes(dim, p) AS (VALUES {rows}),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q
  FROM embeddings
)
SELECT q.vec_id, planes.dim::BIGINT AS dim,
       list_sum(list_transform(range(1, len(q.q) + 1),
                i -> q.q[i] * planes.p[i]))::BIGINT AS proj
FROM q CROSS JOIN planes
"""


def multimodal_wav_stats(spark, sf_dir):
    """End-to-end WAV decode with an ORACLE
    (functions/multimodal.py:wav_roundtrip_stats): per document,
    deterministic PCM is synthesized from doc_id, written through the
    stdlib RIFF encoder, parsed back by the repo's real WAV reader
    inside Arrow-batched ``mapInPandas``, and reduced to integer
    stats — which DuckDB recomputes from the generation formula
    without touching a byte.  Deepens the multimodal family beyond
    byte sniffing: the decode PATH (header layout, sample width,
    channel fold, endianness) is value-checked, not rows-only."""
    return multimodal.wav_roundtrip_stats(_docs(spark, sf_dir).select("doc_id"))


SQL_MULTIMODAL_WAV_STATS = r"""
SELECT doc_id,
       (8000 + (doc_id % 4) * 4000)::BIGINT AS frame_rate,
       (500 + doc_id % 300)::BIGINT AS n_frames,
       list_max(list_transform(range(0, 500 + doc_id % 300),
                i -> abs((doc_id * 31 + i * 17) % 8192 - 4096)))::BIGINT
         AS peak_abs,
       list_sum(list_transform(range(0, 500 + doc_id % 300),
                i -> abs((doc_id * 31 + i * 17) % 8192 - 4096)))::BIGINT
         AS sum_abs
FROM documents
"""


# multimodal_ppm_stats: pre-staged round 12, registered round 14.
def multimodal_ppm_stats(spark, sf_dir):
    """End-to-end netpbm decode with an ORACLE
    (functions/multimodal.py:ppm_roundtrip_stats): per document, a
    deterministic P6 RGB image is synthesized from doc_id, emitted as
    real PPM bytes (comment-bearing header), parsed back by the repo's
    real netpbm parser, nearest-neighbor resampled to 4×3 through the
    real resize helper, and reduced to integer stats — which DuckDB
    recomputes from the generation formula without touching a byte.
    The IMAGE twin of multimodal_wav_stats: header grammar, RGB→gray
    integer fold, and resample index rounding are all value-checked,
    with a position-sensitive checksum so even a pixel-order
    regression breaks equality."""
    return multimodal.ppm_roundtrip_stats(
        _docs(spark, sf_dir).select("doc_id"), width=_PPM_W, height=_PPM_H
    )


# Resample-target geometry shared by the Spark query and the SQL
# oracle (the CMS_PROBE_TERMS convention — one definition).
_PPM_W, _PPM_H = 4, 3

# Oracle derivation: output pixel k (row-major, W wide x H tall) reads
# source pixel sy = (k div W * h) div H, sx = (k mod W * w) div W of a
# w x h image where w = 8 + id%9, h = 6 + id%7; gray = (r+g+b) div 3
# over channel c = (id*7 + sy*31 + sx*13 + 5c) mod 256.
SQL_MULTIMODAL_PPM_STATS = r"""
WITH base AS (
  SELECT doc_id,
         list_transform(range(0, {n}), k ->
           doc_id * 7
           + (((k // {w}) * (6 + doc_id % 7)) // {h}) * 31
           + (((k % {w}) * (8 + doc_id % 9)) // {w}) * 13) AS b
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(b, v ->
           ((v % 256) + ((v + 5) % 256) + ((v + 10) % 256)) // 3) AS px
  FROM base
)
SELECT doc_id,
       (8 + doc_id % 9)::BIGINT AS src_w,
       (6 + doc_id % 7)::BIGINT AS src_h,
       list_sum(px)::BIGINT AS px_sum,
       list_max(px)::BIGINT AS px_max,
       list_sum(list_transform(range(1, {n} + 1), k -> k * px[k]))::BIGINT
         AS px_checksum
FROM g
""".format(w=_PPM_W, h=_PPM_H, n=_PPM_W * _PPM_H)


# text_gopher_rules is implemented and locally oracle-verified but NOT
# registered in queries().
def text_gopher_rules(spark, sf_dir):
    """Gopher document-format rules
    (functions/text.py:gopher_format_flags): per document, the six
    format-quality rules of Rae et al. 2021 Appendix A — word-count
    bounds, mean word length, alphabetic-word share, bullet-line and
    ellipsis-line shares, symbol-to-word ratio — as exact-integer
    cross-multiplied comparisons, emitted WITH their raw counters so
    the oracle checks the arithmetic behind every flag.  Completes the
    published-filter lineage beside the CCNet tiers
    (text_quality_buckets) and the C4/Gopher repetition family
    (text_repetition): zero-exchange codegen projection."""
    return text.gopher_format_flags(_docs(spark, sf_dir))


SQL_TEXT_GOPHER_RULES = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)),
                     x -> trim(x) <> '') AS lines,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3
           + (length(text) - length(replace(text, '…', ''))) AS n_symbols
  FROM documents
),
c AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_words,
         COALESCE(list_sum(list_transform(toks, t -> length(t))),
                  0)::BIGINT AS sum_word_chars,
         len(list_filter(toks,
             t -> regexp_matches(t, '[A-Za-z]')))::BIGINT AS n_alpha_words,
         len(lines)::BIGINT AS n_lines,
         len(list_filter(lines,
             x -> substr(trim(x), 1, 1) IN ('-', '*', '•')))::BIGINT
           AS n_bullet_lines,
         len(list_filter(lines,
             x -> trim(x) LIKE '%...' OR trim(x) LIKE '%…'))::BIGINT
           AS n_ellipsis_lines,
         n_symbols::BIGINT AS n_symbols
  FROM base
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000) AS ok_words,
       (sum_word_chars >= 3 * n_words
        AND sum_word_chars <= 10 * n_words) AS ok_mean_len,
       (n_alpha_words * 10 >= n_words * 8) AS ok_alpha,
       (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullets,
       (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis,
       (n_symbols * 10 <= n_words) AS ok_symbols,
       ((n_words >= 50 AND n_words <= 100000)
        AND (sum_word_chars >= 3 * n_words
             AND sum_word_chars <= 10 * n_words)
        AND (n_alpha_words * 10 >= n_words * 8)
        AND (n_bullet_lines * 10 <= n_lines * 9)
        AND (n_ellipsis_lines * 10 <= n_lines * 3)
        AND (n_symbols * 10 <= n_words)) AS passes_format
FROM c
"""


# dedup_incremental is implemented and locally oracle-verified but NOT
# registered in queries().
def dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup (functions/dedup.py:incremental_dedup)
    — the ASYMMETRIC production shape: docs 0-399 are the frozen
    existing corpus; tonight's shard is docs >= 400 plus deterministic
    RE-CRAWLS derived in-query (the doc_pii_scrub convention — the
    synthetic corpus has no exact duplicates straddling the boundary,
    so the phenomenon is planted identically on both engines): docs
    0-49 re-fetched under fresh ids (+off — corpus pages seen again →
    dup_of_corpus) and docs 400-429 double-fetched (+2·off — the same
    page twice in one shard → dup_in_batch), where ``off =
    max(doc_id) + 1`` is computed IN-QUERY on both engines so re-crawl
    ids can never collide with real ones at ANY scale factor (fixed
    constants collided at sf0.1's doc_id 0-4999).  Every new document is
    classified new / dup_of_corpus / dup_in_batch (keep-lowest-id
    within the shard); shard-by-shard application reproduces
    whole-history exact_dedup (the invariant is pinned in tests), and
    the corpus side joins as ~16-byte digests, never text."""
    docs = _docs(spark, sf_dir)
    off = docs.agg((F.max("doc_id") + 1).alias("__off"))
    with_off = docs.crossJoin(F.broadcast(off))
    shard = (
        docs.filter(F.col("doc_id") >= 400)
        .unionByName(
            with_off.filter(F.col("doc_id") < 50)
            .withColumn("doc_id", F.col("doc_id") + F.col("__off"))
            .drop("__off")
        )
        .unionByName(
            with_off.filter(
                (F.col("doc_id") >= 400) & (F.col("doc_id") < 430)
            )
            .withColumn("doc_id", F.col("doc_id") + 2 * F.col("__off"))
            .drop("__off")
        )
    )
    return dedup.incremental_dedup(shard, docs.filter(F.col("doc_id") < 400))


SQL_DEDUP_INCREMENTAL = """
WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
shard AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 400
  UNION ALL
  SELECT doc_id + off.o, text FROM documents, off WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 2 * off.o, text FROM documents, off
  WHERE doc_id >= 400 AND doc_id < 430
),
new_hashed AS (SELECT doc_id, md5(text) AS text_hash FROM shard),
corpus AS (
  SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id < 400
),
first_in_batch AS (
  SELECT text_hash, MIN(doc_id) AS first_id FROM new_hashed GROUP BY 1
)
SELECT n.doc_id, n.text_hash,
       CASE WHEN c.text_hash IS NOT NULL THEN 'dup_of_corpus'
            WHEN n.doc_id > f.first_id THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM new_hashed n
LEFT JOIN corpus c USING (text_hash)
JOIN first_in_batch f USING (text_hash)
"""


# multimodal_avi_stats is implemented and locally oracle-verified but
# NOT registered in queries().
def multimodal_avi_stats(spark, sf_dir):
    """End-to-end AVI container decode with an ORACLE
    (functions/multimodal.py:avi_roundtrip_stats) — the VIDEO member
    completing the round-trip trio beside multimodal_wav_stats and
    multimodal_ppm_stats: deterministic uncompressed frames (odd
    lengths included, so RIFF word-alignment padding is exercised)
    are written through a real RIFF tree, parsed back by the repo's
    real container walk (_parse_avi, the sample_frames path), and
    reduced to integer stats with a checksum position-sensitive in
    both frame order and intra-frame offset — DuckDB recomputes
    everything from the generation formula without touching a byte."""
    return multimodal.avi_roundtrip_stats(_docs(spark, sf_dir).select("doc_id"))


SQL_MULTIMODAL_AVI_STATS = r"""
SELECT doc_id,
       (20000 + (doc_id % 5) * 10000)::BIGINT AS us_per_frame,
       (3 + doc_id % 6)::BIGINT AS n_frames,
       list_sum(list_transform(range(0, 3 + doc_id % 6),
                i -> 16 + (doc_id + 7 * i) % 33))::BIGINT AS total_bytes,
       list_sum(list_transform(range(0, 3 + doc_id % 6), i ->
         list_sum(list_transform(range(0, 16 + (doc_id + 7 * i) % 33), j ->
           (i + 1) * (j + 1)
           * ((13 * doc_id + 29 * i + 17 * j) % 256)))))::BIGINT
         AS byte_checksum
FROM documents
"""


# text_boilerplate is implemented and locally oracle-verified but NOT
# registered in queries().
def text_boilerplate(spark, sf_dir):
    """jusText-style unit-level boilerplate classification
    (functions/text.py:boilerplate_profile): 8-token units gated on
    length and stopword density (exact-integer cross-multiplies),
    per-document content/boilerplate counters — the unit-level
    complement of text_gopher_rules' document-level format flags, and
    the third member of the published-filter lineage beside the CCNet
    tiers and the C4/Gopher repetition family.  Zero-exchange codegen
    projection."""
    return text.boilerplate_profile(_docs(spark, sf_dir))


SQL_TEXT_BOILERPLATE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
ch AS (
  SELECT doc_id, i, array_to_string(tk[i:i+7], ' ') AS u
  FROM toks, UNNEST(generate_series(1, len(tk), 8)) AS s(i)
),
cls AS (
  SELECT doc_id, u,
         (len(string_split(u, ' ')) >= 4
          AND length(u) >= 20
          AND len(list_filter(string_split(u, ' '),
                t -> list_contains(['the','a','of','and','to','in','is',
                                    'for','on','with'], lower(t)))) * 5
              >= len(string_split(u, ' '))) AS is_content
  FROM ch
)
SELECT t.doc_id,
       COALESCE(c.n_units, 0)::BIGINT AS n_units,
       COALESCE(c.n_content, 0)::BIGINT AS n_content,
       COALESCE(c.n_units - c.n_content, 0)::BIGINT AS n_boilerplate,
       COALESCE(c.content_chars, 0)::BIGINT AS content_chars,
       COALESCE(c.total_chars, 0)::BIGINT AS total_chars
FROM toks t LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_units,
         COUNT(*) FILTER (WHERE is_content) AS n_content,
         COALESCE(SUM(length(u)) FILTER (WHERE is_content), 0)
           AS content_chars,
         SUM(length(u)) AS total_chars
  FROM cls GROUP BY 1
) c USING (doc_id)
"""


# Probe vocabulary for the Count-Min estimate query — module-level so
# the Spark query and the SQL oracle are generated from ONE term list
# (the _raw_url recipe).  "zzcms_absent" is deliberately absent from
# every document so the 0/0 never-seen path is on the checked path.
CMS_PROBE_TERMS = (
    "stream", "window", "join", "hash", "merge",
    "customer", "order", "value", "zzcms_absent",
)
_CMS_WIDTH, _CMS_DEPTH = 32, 2


# doc_cms_estimates is implemented and locally oracle-verified but NOT
# registered in queries().
def doc_cms_estimates(spark, sf_dir):
    """Count-Min sketch frequency estimates beside ground truth
    (functions/sketch.py:cms_estimates): per (source, probe term), the
    sketch's ``min_j cell(j, h_j(t))`` estimate from a 2×32-cell
    register table next to the exact instance count.  The third
    mergeable-sketch family (after HLL and Bloom): CMS cells merge
    with ``+``, state is fixed-size regardless of corpus length, and
    the deliberately small width makes collision overestimates VISIBLE
    so the oracle checks hash placement, the min-fold, and collision
    arithmetic — not just happy-path equality.  ``est >= exact``
    always (property-tested); one probe term is deliberately absent
    from every document, pinning the 0/0 never-seen path."""
    from reflinkcep_spark.functions import sketch

    return sketch.cms_estimates(
        _docs(spark, sf_dir), CMS_PROBE_TERMS, width=_CMS_WIDTH, depth=_CMS_DEPTH
    )


def _sql_doc_cms_estimates() -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(CMS_PROBE_TERMS))
    return rf"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
cells AS (
  SELECT source, j AS row,
         ('0x' || substr(md5(j::VARCHAR || ':' || t), 1, 8))::BIGINT
           % {_CMS_WIDTH} AS pos,
         COUNT(*)::BIGINT AS cnt
  FROM tok, UNNEST(range(0, {_CMS_DEPTH})) AS u(j)
  GROUP BY 1, 2, 3
),
probes(term) AS (VALUES {vals}),
pcells AS (
  SELECT g.source, p.term, j AS row,
         ('0x' || substr(md5(j::VARCHAR || ':' || p.term), 1, 8))::BIGINT
           % {_CMS_WIDTH} AS pos
  -- groups derive from the REGISTER TABLE (the sketch's own notion of
  -- "group"), matching cms_estimates — not from another corpus scan
  FROM (SELECT DISTINCT source FROM cells) g, probes p,
       UNNEST(range(0, {_CMS_DEPTH})) AS u(j)
),
est AS (
  SELECT pc.source, pc.term, MIN(COALESCE(c.cnt, 0))::BIGINT AS est_cnt
  FROM pcells pc LEFT JOIN cells c USING (source, row, pos)
  GROUP BY 1, 2
),
exact AS (
  SELECT source, t AS term, COUNT(*)::BIGINT AS exact_cnt
  FROM tok WHERE t IN (SELECT term FROM probes)
  GROUP BY 1, 2
)
SELECT e.source, e.term, e.est_cnt,
       COALESCE(x.exact_cnt, 0)::BIGINT AS exact_cnt
FROM est e LEFT JOIN exact x USING (source, term)
"""


# The retrieval queries are module-level so the Spark query and the
# SQL oracle are generated from ONE term list (the _raw_url recipe:
# shared construction, independently re-expressed arithmetic).
TFIDF_QUERIES = {
    0: ("stream", "window", "join"),
    1: ("hash", "merge", "sort"),
    2: ("customer", "order", "value"),
}


def text_tfidf_search(spark, sf_dir):
    """Exact-rational tf·idf ranked retrieval
    (functions/text.py:tfidf_topk): top-10 documents for three 3-term
    keyword queries over the corpus vocabulary, scored
    ``N·Σ tf·Π_{other} df`` over the query-constant denominator
    ``Π df`` — integer end to end, so the RANKING (not just the
    score) is bit-stable across engines; no log/float idf drift can
    flip a rank.  The missing 'search' primitive next to the ANN
    family: inverted-index retrieval where the vocabulary filter hits
    the token explode immediately and top-k is TWO-PHASE (shard ranks
    then final rank) instead of one window funneling every scored doc
    of a query through a single task."""
    return text.tfidf_topk(_docs(spark, sf_dir), TFIDF_QUERIES, k=10, shards=32)


def _sql_text_tfidf_search() -> str:
    vals = ",".join(
        f"({qid}, '{t}')"
        for qid, ts in sorted(TFIDF_QUERIES.items())
        for t in ts
    )
    return rf"""
WITH q(query_id, term) AS (VALUES {vals}),
tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS tf
  FROM tok WHERE term IN (SELECT term FROM q)
  GROUP BY 1, 2
),
dft AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
tdf AS (SELECT q.query_id, q.term, d.df FROM q JOIN dft d USING (term)),
den AS (
  SELECT query_id, list_reduce(list(df::HUGEINT), (a, b) -> a * b) AS den
  FROM tdf GROUP BY 1
),
wt AS (
  SELECT t.query_id, t.term, d.den // t.df AS wt, d.den
  FROM tdf t JOIN den d USING (query_id)
),
n AS (SELECT COUNT(*)::HUGEINT AS n_docs FROM documents),
sc AS (
  SELECT w.query_id, f.doc_id,
         SUM(f.tf * w.wt)::HUGEINT * MAX(n.n_docs) AS num,
         MIN(w.den) AS den
  FROM tf f JOIN wt w USING (term) CROSS JOIN n
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, doc_id, num, den,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY num DESC, doc_id) AS rank
  FROM sc
)
SELECT query_id, rank::BIGINT AS rank, doc_id,
       num::BIGINT AS tfidf_num, den::BIGINT AS tfidf_den
FROM r WHERE rank <= 10
"""


QUERIES = {
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_clusters": dedup_clusters,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_md5": dedup_minhash_lsh_md5,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_md5": dedup_simhash_md5,
    "text_profile": text_profile,
    "text_repetition": text_repetition,
    "text_language": text_language,
    "doc_rolling_fingerprint": doc_rolling_fingerprint,
    "doc_winnow_fingerprints": doc_winnow_fingerprints,
    "doc_winnow_robust": doc_winnow_robust,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    "doc_top_terms": doc_top_terms,
    "doc_hash_sample": doc_hash_sample,
    "doc_mixture_sample": doc_mixture_sample,
    "doc_mixture_upsample": doc_mixture_upsample,
    "doc_source_stats": doc_source_stats,
    "doc_decontam": doc_decontam,
    "doc_pack_sequences": doc_pack_sequences,
    "doc_pack_ffd": doc_pack_ffd,
    "doc_length_outliers": doc_length_outliers,
    "doc_pii_scrub": doc_pii_scrub,
    "doc_curation_funnel": doc_curation_funnel,
    "doc_chunk_overlap": doc_chunk_overlap,
    "doc_vocab_coverage": doc_vocab_coverage,
    "doc_split_assign": doc_split_assign,
    "doc_global_shuffle": doc_global_shuffle,
    "doc_split_leakage": doc_split_leakage,
    "text_token_histogram": text_token_histogram,
    "text_bigram_lift": text_bigram_lift,
    "text_lm_quality": text_lm_quality,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_embedding_neardup": sim_embedding_neardup,
    "multimodal_bytes": multimodal_bytes,
    "doc_token_budget": doc_token_budget,
    "dedup_substring_spans": dedup_substring_spans,
    "dedup_scrub_spans": dedup_scrub_spans,
    "dedup_semantic": dedup_semantic,
    "doc_importance_weights": doc_importance_weights,
    "text_dedup_paragraphs": text_dedup_paragraphs,
    "dedup_canonical_quality": dedup_canonical_quality,
    "text_quality_buckets": text_quality_buckets,
    "text_dedup_paragraphs_fuzzy": text_dedup_paragraphs_fuzzy,
    "doc_contamination_matrix": doc_contamination_matrix,
    "doc_mixture_rebalance": doc_mixture_rebalance,
    # registered round 12 (pre-staged + oracle-verified round 11)
    "dedup_url_canonical": dedup_url_canonical,
    "text_dedup_paragraphs_global": text_dedup_paragraphs_global,
    "doc_quality_calibration": doc_quality_calibration,
    "text_dedup_xdoc_fuzzy": text_dedup_xdoc_fuzzy,
    "sim_ann_pq": sim_ann_pq,
    # registered round 13 (pre-staged + oracle-verified round 11)
    "doc_hll_registers": doc_hll_registers,
    "doc_bloom_decontam": doc_bloom_decontam,
    "doc_span_merge": doc_span_merge,
    "sim_kmeans": sim_kmeans,
    "text_tfidf_search": text_tfidf_search,
    # registered round 14 (pre-staged + oracle-verified since rounds
    # 11-12; pinned by test_prestaged_round14_queries_match_oracles)
    "doc_snapshot_diff": doc_snapshot_diff,
    "doc_link_pagerank": doc_link_pagerank,
    "sim_jl_project": sim_jl_project,
    "multimodal_wav_stats": multimodal_wav_stats,
    "multimodal_ppm_stats": multimodal_ppm_stats,
}

ORACLES = {
    "dedup_exact_groups": SQL_EXACT_GROUPS,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_minhash_lsh_md5": SQL_MINHASH_LSH_MD5,
    "dedup_simhash_md5": SQL_SIMHASH_MD5,
    "sim_ann_lsh": _sql_sim_ann_lsh(),
    # lazy: resolved by all_oracles() on first use — building this one
    # reads the oracle-scale parquet and runs a KMeans fit, which must
    # not happen (or fail on hosts without testdata) at import time.
    "sim_ann_ivf": _sql_sim_ann_ivf,
    "sim_embedding_neardup": _sql_sim_embedding_neardup(),
    "text_profile": SQL_TEXT_PROFILE,
    "text_repetition": SQL_TEXT_REPETITION,
    "text_language": _sql_text_language(),
    "doc_rolling_fingerprint": SQL_ROLLING_FP,
    "doc_winnow_fingerprints": SQL_WINNOW_FP,
    "doc_winnow_robust": SQL_WINNOW_ROBUST,
    "dedup_winnow_pairs": SQL_DEDUP_WINNOW,
    "doc_top_terms": SQL_DOC_TOP_TERMS,
    "doc_hash_sample": SQL_DOC_HASH_SAMPLE,
    "doc_mixture_sample": SQL_DOC_MIXTURE_SAMPLE,
    "doc_mixture_upsample": SQL_DOC_MIXTURE_UPSAMPLE,
    "doc_source_stats": SQL_DOC_SOURCE_STATS,
    "doc_decontam": SQL_DOC_DECONTAM,
    "doc_pack_sequences": SQL_DOC_PACK_SEQUENCES,
    "doc_pack_ffd": SQL_DOC_PACK_FFD,
    "doc_length_outliers": SQL_DOC_LENGTH_OUTLIERS,
    "doc_pii_scrub": SQL_DOC_PII_SCRUB,
    "doc_curation_funnel": SQL_DOC_CURATION_FUNNEL,
    "doc_chunk_overlap": SQL_DOC_CHUNK_OVERLAP,
    "doc_vocab_coverage": SQL_DOC_VOCAB_COVERAGE,
    "doc_split_assign": SQL_DOC_SPLIT_ASSIGN,
    "doc_global_shuffle": SQL_DOC_GLOBAL_SHUFFLE,
    "doc_split_leakage": SQL_DOC_SPLIT_LEAKAGE,
    "text_token_histogram": SQL_TEXT_TOKEN_HISTOGRAM,
    "text_bigram_lift": SQL_BIGRAM_LIFT,
    "text_lm_quality": SQL_LM_QUALITY,
    "sim_cosine_topk": SQL_COSINE_TOPK,
    "multimodal_bytes": SQL_MULTIMODAL_BYTES,
    "doc_token_budget": SQL_DOC_TOKEN_BUDGET,
    "dedup_substring_spans": SQL_DEDUP_SUBSTRING_SPANS,
    "dedup_scrub_spans": SQL_DEDUP_SCRUB_SPANS,
    # lazy: resolved by all_oracles() on first use (parquet read +
    # KMeans fit — same contract as sim_ann_ivf above).
    "dedup_semantic": _sql_dedup_semantic,
    "doc_importance_weights": SQL_DOC_IMPORTANCE_WEIGHTS,
    "text_dedup_paragraphs": SQL_TEXT_DEDUP_PARAGRAPHS,
    "dedup_canonical_quality": SQL_DEDUP_CANONICAL_QUALITY,
    "text_quality_buckets": SQL_TEXT_QUALITY_BUCKETS,
    "text_dedup_paragraphs_fuzzy": SQL_TEXT_DEDUP_PARAGRAPHS_FUZZY,
    "doc_contamination_matrix": SQL_DOC_CONTAMINATION_MATRIX,
    "doc_mixture_rebalance": SQL_DOC_MIXTURE_REBALANCE,
    # registered round 12 (pre-staged + oracle-verified round 11)
    "dedup_url_canonical": SQL_DEDUP_URL_CANONICAL,
    "text_dedup_paragraphs_global": SQL_TEXT_DEDUP_PARAGRAPHS_GLOBAL,
    "doc_quality_calibration": SQL_DOC_QUALITY_CALIBRATION,
    "text_dedup_xdoc_fuzzy": SQL_TEXT_DEDUP_XDOC_FUZZY,
    # lazy: resolved by all_oracles() on first use (parquet read +
    # PQ codebook fit — same contract as sim_ann_ivf above).
    "sim_ann_pq": _sql_sim_ann_pq,
    # registered round 13 (pre-staged + oracle-verified round 11)
    "doc_hll_registers": SQL_DOC_HLL_REGISTERS,
    "doc_bloom_decontam": SQL_DOC_BLOOM_DECONTAM,
    "doc_span_merge": SQL_DOC_SPAN_MERGE,
    "sim_kmeans": SQL_SIM_KMEANS,
    # lazy: resolved by all_oracles() on first use (the tf·idf corpus
    # statistics are embedded as literals on both engines).
    "text_tfidf_search": _sql_text_tfidf_search,
    # registered round 14 (pre-staged + oracle-verified since rounds
    # 11-12)
    "doc_snapshot_diff": SQL_DOC_SNAPSHOT_DIFF,
    "doc_link_pagerank": SQL_DOC_LINK_PAGERANK,
    # lazy: the quantized hyperplane literals are built on first use
    # (pure arithmetic, no parquet read — lazy only for import cost).
    "sim_jl_project": _sql_sim_jl_project,
    "multimodal_wav_stats": SQL_MULTIMODAL_WAV_STATS,
    "multimodal_ppm_stats": SQL_MULTIMODAL_PPM_STATS,
}
