"""Mergeable sketches for corpus statistics at 100 TB scale.

Three sketches whose *registers* — not just their final estimates — are
exact integers reproducible bit-for-bit by any engine that shares the
hash (the frozen md5 of the rest of this repo):

* :func:`hll_registers` — HyperLogLog register table (Flajolet et al.
  2007).  The distinct-token count of a 100 TB corpus is the first
  number every dataset card reports, and computing it exactly costs a
  corpus-wide shuffle on the token.  HLL replaces that with a
  fixed-size register vector per group that merges with ``MAX`` —
  embarrassingly map-side-combinable, and register tables from
  disjoint shards/sources roll up without rescanning (the per-source
  rows and the corpus ``(all)`` row in the output are the SAME
  aggregate at two grouping levels, which is the mergeability claim
  made checkable).
* :func:`bloom_bits` / :func:`bloom_gate` — Bloom-filter membership
  gate (Bloom 1970), here instantiated as benchmark decontamination:
  the *other* scale regime from ``dedup.contaminated_docs``.  The
  semi-join decontam broadcasts the benchmark gram SET (fine for eval
  suites, linear in distinct grams); the Bloom gate broadcasts a
  fixed ``m``-bit array regardless of how many grams went in — the
  right shape when the "seen" side is itself huge (a prior crawl's
  gram inventory, a URL blocklist of billions).  The price is a
  deterministic false-positive rate; there are NO false negatives,
  so as a *pre*-filter it never lets contamination through.
* :func:`cms_registers` / :func:`cms_estimates` — Count-Min sketch
  (Cormode & Muthukrishnan 2005): fixed-size FREQUENCY cells that
  merge with ``+`` (a linear sketch — shard and stream tables fold
  without rescanning), answering "how often does term t occur per
  source" without a corpus-wide term shuffle.  Estimates only ever
  OVERestimate (min-of-rows over non-negative collisions), the
  frequency-side dual of Bloom's no-false-negative guarantee.

Both engines (Spark and the DuckDB oracle) compute the same md5-derived
buckets, registers, and bit positions, so outputs — including any Bloom
false positives — match exactly.  No approximation ambiguity hides in
the gate: the sketch itself is deterministic; only its *interpretation*
(the cardinality estimate, the FP rate) is approximate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_registers",
    "hll_registers_single",
    "bloom_bits",
    "bloom_gate",
    "bloom_literal",
    "bloom_gate_inline",
    "cms_registers",
    "cms_estimates",
]

# 15 hex chars = 60 bits: fits a signed 64-bit integer in BOTH engines
# (DuckDB's ('0x'||…)::BIGINT and Spark's conv(…, 16, 10) cast), the
# same frozen idiom as sampling.py's md5 order keys.
_VALUE_HEX = 15
_VALUE_BITS = 4 * _VALUE_HEX


def _hex_slice(col: Column, start: int, length: int) -> Column:
    """``length`` hex chars of md5(col) starting at 1-based ``start``,
    as a non-negative BIGINT (length ≤ 15 so the sign bit stays 0)."""
    if length > _VALUE_HEX:
        raise ValueError(f"hex slice longer than {_VALUE_HEX} overflows BIGINT")
    return F.conv(F.substring(F.md5(col), start, length), 16, 10).cast("long")


def _check_bloom_geometry(m_bits: int, word_bits: int) -> None:
    # word_bits range first: the multiple-of check divides by it.
    if not (1 <= word_bits <= 32):
        raise ValueError(f"word_bits must be in [1, 32], got {word_bits}")
    if m_bits % word_bits != 0:
        raise ValueError(f"m_bits {m_bits} must be a multiple of word_bits {word_bits}")


def _word_of(p: Column, word_bits: int) -> Column:
    """Word index of bit position ``p`` (non-negative, so the
    pmod-subtract form is exact floor division)."""
    return ((p - F.pmod(p, F.lit(word_bits))) / word_bits).cast("long")


def _mask_of(p: Column, word_bits: int) -> Column:
    """Single-bit mask for position ``p`` as a 2^i literal-array lookup
    — pyspark's classic shiftleft takes only a LITERAL shift count, and
    inside higher-order-function lambdas there is no column name for an
    F.expr workaround, so ONE mask formulation serves every call site
    (builder, join gate, inline gate) and the FP-for-FP equivalence
    between them cannot drift."""
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(word_bits)])
    return F.element_at(pow2, F.pmod(p, F.lit(word_bits)).cast("int") + 1)


def hll_registers(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    buckets: int = 64,
    rollup_label: str = "(all)",
) -> DataFrame:
    """HyperLogLog register table over the word tokens of ``text_col``,
    per ``group_col`` AND rolled up to one corpus-level group
    (``rollup_label``) — (group, bucket, register, n_tokens), all
    BIGINT.

    Register construction (the classical split-hash form): bucket =
    md5 hex chars 16-19 mod ``buckets`` (a 16-bit slice — hence the
    65536-bucket ceiling — disjoint from the value bits), value =
    hex chars 1-15 (60 bits), register = number of
    leading zeros of the 60-bit value + 1 (i.e. ``61 - bitlength``,
    with the probability-2⁻⁶⁰ all-zero value pinned to 61 explicitly).
    The estimate is then the textbook ``α·m²/Σ2^-Mj`` downstream; this
    operator deliberately emits the REGISTERS, not the estimate — the
    float harmonic sum is summation-order-dependent across engines,
    while the register table is exact, and registers are what a
    warehouse stores anyway (they keep merging; an estimate doesn't).

    Token rows are NOT deduplicated first: a register is a ``MAX`` over
    hash ranks, so duplicate tokens cannot change it — the whole reason
    HLL beats exact COUNT(DISTINCT) at scale is that no distinct
    shuffle ever happens.  ``n_tokens`` counts token INSTANCES hashed
    into the bucket (a load diagnostic, order-independent).

    Scale shape: scan → token explode → ONE map-side-combinable MAX/
    COUNT aggregate over ≤ (groups+1)·``buckets`` cells — the rollup
    level rides the same pass via ``groupingSets`` (a union of two
    groupBys would tokenize the corpus twice).  Output is
    O(groups·buckets) regardless of corpus size.  Buckets a group
    never hashed into are absent rather than emitted as zero rows —
    at 64 buckets and thousands of tokens per group every bucket is
    occupied in practice, and absence is reproduced identically by
    any engine sharing the hash.
    """
    hashed = _hll_hashed(df, text_col, group_col, buckets)
    out = hashed.groupingSets([["grp", "bucket"], ["bucket"]], "grp", "bucket").agg(
        F.max("r").alias("register"),
        F.count(F.lit(1)).alias("n_tokens"),
        # the GROUPING indicator, not a NULL test: a NULL group value
        # in the data must not be conflated with the rollup level.
        F.grouping("grp").alias("_roll"),
    )
    # The indicator is folded into the label column (the output schema
    # stays engine-portable), which assumes no REAL group is literally
    # named ``rollup_label`` — otherwise its rows would be
    # indistinguishable from the corpus rollup downstream.  The
    # assumption is enforced in-plan, not just documented: a data-level
    # collision raises instead of silently aliasing two levels.
    return out.select(
        F.when(
            (F.col("_roll") == 0) & (F.col("grp") == F.lit(rollup_label)),
            F.raise_error(
                f"hll_registers: group value collides with rollup_label "
                f"{rollup_label!r} — pass a rollup_label no real "
                f"{group_col} uses"
            ),
        )
        .when(F.col("_roll") == 1, F.lit(rollup_label))
        .otherwise(F.col("grp"))
        .alias(group_col),
        "bucket",
        "register",
        "n_tokens",
    )


def _hll_hashed(
    df: DataFrame, text_col: str, group_col: str, buckets: int
) -> DataFrame:
    """The shared (grp, bucket, r) projection of both HLL forms —
    batch groupingSets rollup and streaming single-level — so the two
    surfaces can never disagree about bucket/rank construction."""
    from reflinkcep_spark.functions.text import tokens

    if buckets < 1 or buckets > 256 * 256:
        raise ValueError(f"buckets must be in [1, 65536], got {buckets}")
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    zero_hex = "0" * _VALUE_HEX
    reg = (
        F.when(
            F.substring(F.md5("t"), 1, _VALUE_HEX) == F.lit(zero_hex),
            F.lit(_VALUE_BITS + 1),
        )
        .otherwise(
            _VALUE_BITS + 1
            - F.length(F.conv(F.substring(F.md5("t"), 1, _VALUE_HEX), 16, 2))
        )
        .cast("long")
    )
    return tok.select(
        "grp",
        (_hex_slice(F.col("t"), _VALUE_HEX + 1, 4) % buckets).alias("bucket"),
        reg.alias("r"),
    )


def hll_registers_single(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    buckets: int = 64,
) -> DataFrame:
    """:func:`hll_registers` without the rollup level: per-group
    registers only, one plain MAX/COUNT aggregate — the STREAMING form.
    Structured Streaming allows a single aggregation per query (no
    grouping sets), and on a stream the rollup belongs downstream
    anyway: registers merge with MAX, so any consumer can fold the
    per-source rows into a corpus row without re-reading the stream —
    which is the entire reason to sketch a stream instead of counting
    it.  State is FIXED-SIZE (≤ groups·buckets cells no matter how
    long the stream runs) — the sketch family is what makes unbounded-
    stream corpus statistics possible at all.  Shares
    ``_hll_hashed`` with the batch form, so bucket/rank construction
    cannot drift between surfaces."""
    return (
        _hll_hashed(df, text_col, group_col, buckets)
        .groupBy("grp", "bucket")
        .agg(
            F.max("r").alias("register"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            F.col("grp").alias(group_col), "bucket", "register", "n_tokens"
        )
    )


def bloom_bits(
    grams: DataFrame,
    gram_col: str = "g",
    m_bits: int = 4096,
    word_bits: int = 32,
) -> DataFrame:
    """Build an ``m_bits``-wide Bloom filter from the values of
    ``gram_col`` as (w, bits) words — w = bit-position // word_bits,
    bits = OR of 1 << (position % word_bits).

    Two hash functions per value, from disjoint md5 hex slices (chars
    1-15 and 17-31) mod ``m_bits`` — independent enough for the
    classical FP bound ``(1-e^{-2n/m})²`` and, more importantly here,
    reproducible by any engine with md5.  ``word_bits`` ≤ 32 keeps
    every mask positive in a signed 64-bit container, sidestepping
    engine disagreements about shifts into the sign bit.

    ONE map-side-combinable BIT_OR aggregate over ≤ m_bits/word_bits
    cells; words no gram hashed into are absent (callers must treat a
    missing word as 0 — :func:`bloom_gate` does).
    """
    _check_bloom_geometry(m_bits, word_bits)
    g = F.col(gram_col)
    rows = grams.select(
        F.explode(
            F.array(
                _hex_slice(g, 1, _VALUE_HEX) % m_bits,
                _hex_slice(g, _VALUE_HEX + 2, _VALUE_HEX) % m_bits,
            )
        ).alias("p")
    )
    return (
        rows.select(
            _word_of(F.col("p"), word_bits).alias("w"),
            _mask_of(F.col("p"), word_bits).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_gate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = 4096,
    word_bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination gate: corpus documents whose word
    ``n``-grams hit the Bloom filter built from ``benchmark``'s
    ``n``-grams — (doc_id, n_flagged_grams), flagged docs only.

    Same gram closure as ``dedup.contaminated_docs`` (shared
    ``_distinct_gram_rows``), different membership machinery: the
    benchmark side collapses to a FIXED-SIZE bit array densified into
    ONE row (position w+1 = that word's bits, absent word = 0) and
    broadcast ONCE; both hashes of every corpus gram test against it
    IN-ROW (``element_at`` word lookup + mask, whole-stage codegen),
    so the corpus never shuffles until the final per-doc count.
    (The previous shape broadcast the sparse (w, bits) frame twice —
    once per hash — as two hash joins, which re-derived the whole
    benchmark-side pipeline per broadcast: 2 gram closures, 6
    exchanges; the output is FP-for-FP identical.)  A gram is
    flagged iff BOTH its bits are set; per-doc counts therefore
    include the filter's deterministic false positives, identically
    on any engine sharing md5 (the registered query's oracle checks
    FP-for-FP).  No false negatives: every truly-leaked gram is
    counted (property-tested against the exact semi-join).

    Use this shape when the "seen" side outgrows a broadcastable set
    — the m_bits knob trades broadcast size against FP rate
    independently of how many grams went in.
    """
    from reflinkcep_spark.functions.dedup import _distinct_gram_rows

    _check_bloom_geometry(m_bits, word_bits)
    n_words = m_bits // word_bits
    bench_grams = _distinct_gram_rows(benchmark, n, text_col, id_col, hashed=False)
    # Dense 1-row form of the (w, bits) words: the single broadcast
    # every probe row reads.  The 128-element transform is interpreted
    # but runs ONCE on one row.
    dense = (
        bloom_bits(bench_grams.select("g").distinct(), "g", m_bits, word_bits)
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("bits")
            ).alias("__m")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m"), i), F.lit(0).cast("long")
                ),
            ).alias("__bloom")
        )
    )
    probe = _distinct_gram_rows(corpus, n, text_col, id_col, hashed=False).select(
        "doc_id",
        (_hex_slice(F.col("g"), 1, _VALUE_HEX) % m_bits).alias("p1"),
        (_hex_slice(F.col("g"), _VALUE_HEX + 2, _VALUE_HEX) % m_bits).alias("p2"),
    )

    def _bit_set(p: Column) -> Column:
        # element_at over the dense array: absent words were densified
        # to 0 above, so the old inner-join "missing word cannot match"
        # semantics are preserved exactly.
        word = F.element_at(
            F.col("__bloom"), _word_of(p, word_bits).cast("int") + 1
        )
        return word.bitwiseAND(_mask_of(p, word_bits)) != 0

    hit = probe.crossJoin(F.broadcast(dense)).filter(
        _bit_set(F.col("p1")) & _bit_set(F.col("p2"))
    )
    return hit.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_flagged_grams"))


def bloom_literal(
    grams: DataFrame,
    gram_col: str = "g",
    m_bits: int = 4096,
    word_bits: int = 32,
) -> list[int]:
    """Materialize :func:`bloom_bits` as a dense Python word list
    (absent words zero-filled) — a BOUNDED driver action (≤
    m_bits/word_bits rows, 128 for the defaults), the centroid-literal
    recipe from ``similarity.semantic_dedup``: the filter becomes a
    plan literal so downstream membership tests are pure projections.
    This is how the gate rides a STREAM — a stateless in-row test
    needs the bits in the plan, not in a join."""
    words = [0] * (m_bits // word_bits)
    for row in bloom_bits(grams, gram_col, m_bits, word_bits).collect():
        words[int(row["w"])] = int(row["bits"])
    return words


def bloom_gate_inline(
    df: DataFrame,
    words: list[int],
    n: int = 3,
    word_bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bloom_gate` with the filter inlined as an array literal —
    per-document flagged-gram counts computed entirely IN-ROW: gram
    set, two hash positions, word lookup (``element_at`` into the
    literal), and bit test all happen inside one whole-stage-codegen
    projection.  ZERO exchanges, ZERO state: the shape of an
    ingest-time contamination gate on a document STREAM (each
    micro-batch row is gated the moment it arrives) — and on batch, of
    a gate fused into the scan.

    Equivalent to the join form by construction (same gram closure,
    same md5 positions, same bits — pinned by a test); use the join
    form when the filter is built in the same job, this form when the
    bits are precomputed (:func:`bloom_literal`) or must ride a
    stream.  Returns (doc_id, n_flagged_grams), flagged docs only.
    """
    from reflinkcep_spark.functions.text import ngrams, tokens

    _check_bloom_geometry(len(words) * word_bits, word_bits)
    m_bits = len(words) * word_bits
    lit_words = F.array(*[F.lit(w).cast("long") for w in words])

    def _hit(g: Column) -> Column:
        def _bit(start: int) -> Column:
            p = _hex_slice(g, start, _VALUE_HEX) % m_bits
            word = F.element_at(lit_words, _word_of(p, word_bits).cast("int") + 1)
            return word.bitwiseAND(_mask_of(p, word_bits)) != 0

        return _bit(1) & _bit(_VALUE_HEX + 2)

    grams = F.array_distinct(ngrams(tokens(F.col(text_col)), n))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.filter(grams, _hit)).cast("long").alias("n_flagged_grams"),
        )
        .filter(F.col("n_flagged_grams") > 0)
    )


def _cms_positions(col: Column, width: int, depth: int) -> Column:
    """The ONE cell-placement formula of the Count-Min family: the
    ``depth``-long array of positions for value ``col`` — position j =
    ``md5('j:' || col)[8 hex] mod width``.  Register construction
    (:func:`_cms_hashed`) and probe lookup (:func:`cms_estimates`) both
    call this, so the two sides can never disagree about placement
    (a drifted probe hash would silently look up the wrong cells and
    break the ``est >= exact`` guarantee)."""
    return F.array(
        *[
            (_hex_slice(F.concat(F.lit(f"{j}:"), col), 1, 8) % width)
            for j in range(depth)
        ]
    )


def _check_cms_geometry(width: int, depth: int) -> None:
    if width < 1 or width > 65536:
        raise ValueError(f"width must be in [1, 65536], got {width}")
    if depth < 1 or depth > 8:
        raise ValueError(f"depth must be in [1, 8], got {depth}")


def _cms_hashed(
    df: DataFrame, text_col: str, group_col: str, width: int, depth: int
) -> DataFrame:
    """The shared (grp, row, pos) projection of both Count-Min forms —
    batch and streaming — so the two surfaces can never disagree about
    cell placement (:func:`_cms_positions`).  Row-salted md5 gives
    ``depth`` pairwise-independent-enough hash functions that any
    engine can reproduce exactly."""
    from reflinkcep_spark.functions.text import tokens

    _check_cms_geometry(width, depth)
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    )
    return tok.select(
        "grp", F.posexplode(_cms_positions(F.col("t"), width, depth)).alias("row", "pos")
    )


def cms_registers(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    width: int = 32,
    depth: int = 2,
) -> DataFrame:
    """Count-Min sketch register table over the word tokens of
    ``text_col``, per ``group_col`` — (group, row, pos, cnt), all
    BIGINT: cell ``(row, pos)`` counts the token instances any of whose
    ``depth`` row-salted md5 hashes landed there.

    Like :func:`hll_registers`, this emits the REGISTERS, not derived
    estimates: integer cells are exact and engine-portable, they keep
    merging (CMS cells merge with ``+``, the whole point of a linear
    sketch — any consumer can fold shards/streams without re-reading
    them), and a point estimate is then ``min_j cell(j, h_j(t))``
    downstream (:func:`cms_estimates`).  Cells no token hashed into
    are absent rather than zero rows (the HLL absent-bucket
    convention — reproduced identically by any engine sharing the
    hash).

    Scale shape: scan → token explode → ``depth``-way in-row position
    fan-out → ONE map-side-combinable COUNT aggregate over
    ≤ groups·depth·width cells; output size independent of corpus.
    The streaming twin is this exact plan (one aggregation — legal in
    complete mode) with FIXED-SIZE state, ≤ groups·depth·width cells
    no matter how long the stream runs.
    """
    return (
        _cms_hashed(df, text_col, group_col, width, depth)
        .groupBy("grp", "row", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("grp").alias(group_col),
            F.col("row").cast("long").alias("row"),
            "pos",
            "cnt",
        )
    )


def cms_estimates(
    df: DataFrame,
    probe_terms: tuple[str, ...],
    text_col: str = "text",
    group_col: str = "source",
    width: int = 32,
    depth: int = 2,
) -> DataFrame:
    """Count-Min point estimates beside ground truth: for each group
    and probe term, ``est_cnt = min_j cell(j, h_j(term))`` from
    :func:`cms_registers` next to the exact instance count —
    (group, term, est_cnt, exact_cnt).  ``est_cnt >= exact_cnt``
    always (Count-Min never underestimates; property-tested), and at
    small ``width`` the overestimate is visibly exercised, so an
    engine-independent oracle checks the whole estimate path — hash
    placement, min-fold, and collision arithmetic — not just the cell
    table.

    Every probe term is emitted for every group THE REGISTER TABLE
    KNOWS (0/0 when the group never saw the term): the group list
    derives from the sketch itself (≤ groups·depth·width cells), not
    from another corpus scan, so a group whose documents contain no
    tokens at all has no cells and is absent — the sketch's own notion
    of "group".  Absent cells read as 0 through the left join, which
    is exactly the sketch's answer for a never-hashed term.  NULL
    group values are rejected in-plan (a NULL key matches nothing in
    the register/exact joins, so it would surface as a plausible 0/0
    row — garbage with no error; raising is the honest behavior).

    Scale shape: the register table is ≤ groups·depth·width cells and
    the probe list is a plan literal, so the estimate side is a
    broadcast-joined fold over a TINY frame; the exact side is one
    ``isin``-filtered token aggregate (the filter reaches the explode
    immediately).  Two passes over the text column — the sketch pass
    and the truth pass — which is the price of emitting ground truth
    beside the estimate; production reads the register table alone.
    """
    if not probe_terms:
        raise ValueError("probe_terms must be non-empty")
    if len(set(probe_terms)) != len(probe_terms):
        raise ValueError("probe_terms must be distinct")
    _check_cms_geometry(width, depth)
    from reflinkcep_spark.functions.text import tokens

    spark = df.sparkSession
    # NULL-group rail applied at the source, so BOTH passes (sketch and
    # exact) are covered by one guard.
    df = df.withColumn(
        group_col,
        F.when(
            F.col(group_col).isNull(),
            F.raise_error(
                f"cms_estimates: NULL {group_col} values would silently "
                "produce 0/0 rows (NULL join keys match nothing) — filter "
                "or fill them first"
            ),
        ).otherwise(F.col(group_col)),
    )
    # The register frame is referenced twice below (the probe join AND
    # the group list); without lineage truncation each reference re-runs
    # the corpus scan + token explode + agg — a full wasted corpus pass
    # at 100 TB (the lm_quality/tfidf recipe; verified in the plan:
    # 3 FileScans without it).  It is <= groups*depth*width cells, so
    # the checkpoint is tiny.
    reg = cms_registers(df, text_col, group_col, width, depth).localCheckpoint(
        eager=False
    )
    # The sketch is the only corpus-derived input the estimate side
    # needs: its distinct groups are a fold over <= groups*depth*width
    # cells, not a third corpus scan.
    groups = reg.select(F.col(group_col).alias("grp")).distinct()
    probes = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in sorted(probe_terms)])
        ).alias("term")
    )
    # (grp, term, row, pos): the probe term's expected cell per hash
    # row — placement through the SAME formula as register construction
    # (_cms_positions), so probe lookups cannot drift from the cells.
    cells = groups.crossJoin(probes).select(
        "grp",
        "term",
        F.posexplode(_cms_positions(F.col("term"), width, depth)).alias(
            "row", "pos"
        ),
    ).withColumn("row", F.col("row").cast("long"))
    est = (
        cells.join(
            F.broadcast(reg.withColumnRenamed(group_col, "grp")),
            ["grp", "row", "pos"],
            "left",
        )
        .groupBy("grp", "term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )
    exact = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("t"),
        )
        .filter(F.col("t").isin(list(probe_terms)))
        .groupBy("grp", F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(F.broadcast(exact), ["grp", "term"], "left")
        .select(
            F.col("grp").alias(group_col),
            "term",
            "est_cnt",
            F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt"),
        )
    )
