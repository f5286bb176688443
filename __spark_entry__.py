"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: ``reflinkcep_spark`` — CEP pattern matching (the reference's
full operator surface) as a partition-at-a-time ``mapInPandas`` NFA
kernel with Catalyst fast paths, plus the relational operator set and
training-data-pipeline operators (dedup / similarity search / text
analysis / multimodal plumbing).  See SURVEY.md §2 for the inventory and
reflinkcep_spark/queries/ for every query definition.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    """The harness calls us with ITS SparkSession; make sure the
    package is importable on that session's Python workers before any
    kernel (mapInPandas) plan executes."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: signup → first
    qualifying purchase per user (relaxed-contiguity CEP sequence;
    the planner dispatches it to the pure-Catalyst window fast path)."""
    from reflinkcep_spark.queries.cep_queries import cep_signup_to_purchase

    return _shipped(cep_signup_to_purchase)(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (CEP,
    relational, pipeline)."""
    from reflinkcep_spark.queries import all_queries

    return {name: _shipped(fn) for name, fn in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL for every SQL-expressible query; names
    absent here (iterative-condition CEP, skip strategies, sketching
    dedup/ANN) are non-SQL-expressible → rows-only checks."""
    from reflinkcep_spark.queries import all_oracles

    return all_oracles()


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the sf_dir event log (ALL columns).

    The file stream source requires a DIRECTORY; the testdata tables
    are single parquet files, so expose the file through a per-sf_dir
    temp directory symlink (stable path → the source's file-tracking
    log stays consistent across calls).  lexists, not exists: a
    dangling symlink (testdata regenerated) reports exists=False but
    still blocks os.symlink; likewise a live link pointing at stale
    data must be re-made, not reused.  islink before readlink: a
    REGULAR file at this path (older layout, a copy instead of a
    link) would make readlink raise.

    SESSION-WIDE SIDE EFFECT (same contract as sources/tables.py):
    pins ``spark.sql.legacy.parquet.nanosAsLong = true`` and
    ``spark.sql.session.timeZone = UTC`` on the CALLER'S session, and
    the pins persist after this call — later batch reads in the same
    session see them too.  They cannot be set/restored here because
    the returned stream is LAZY: both confs are consulted when the
    query starts, not when this function builds it.  ``get_spark``
    sessions already carry identical values; callers embedding this
    in a foreign session with different expectations must manage the
    conf themselves."""
    from pyspark.sql import functions as F

    # Same ts-generation defenses as sources/tables.py:load_table —
    # some testdata generations ship events.ts as TIMESTAMP(NANOS),
    # which Spark rejects (PARQUET_TYPE_ILLEGAL) unless read as BIGINT
    # and rebuilt; others ship TIMESTAMP_NTZ, which watermarks reject.
    # Both pins happen up front, unconditionally, so the session state
    # after this call doesn't depend on which generation was on disk.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _stream_table(spark, sf_dir, "events")
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # Nanosecond BIGINT generation: rebuild the real timestamp with
        # exact integer division (`div`, not `/` — see tables.py).
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP; the UTC session-zone pin above
        # makes this cast's instant stable regardless of host zone —
        # same move as sources/tables.py.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-stream source over one sf_dir table, raw (no column
    rewrites — ``_stream_events`` layers the ts defenses on top).  The
    file stream source requires a DIRECTORY; the testdata tables are
    single parquet files, so expose the file through a stable per-path
    temp-directory symlink (see ``_stream_events``' docstring for the
    lexists/islink defenses)."""
    import hashlib
    import tempfile

    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    d = os.path.join(
        tempfile.gettempdir(),
        f"stream_{table}_" + hashlib.md5(path.encode()).hexdigest()[:12],
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if os.path.lexists(link):
        if (
            not os.path.islink(link)
            or not os.path.exists(link)
            or os.readlink(link) != path
        ):
            os.remove(link)
    if not os.path.lexists(link):
        os.symlink(path, link)
    return spark.readStream.schema(schema).parquet(d)


def queries_streaming() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Streaming counterpart of ``queries()``, pre-wired for the day
    the driver contract admits streaming entries (it does not today —
    nothing calls this but the streaming test suite).  Each entry
    takes (spark, sf_dir) and returns an UNSTARTED streaming DataFrame
    reading ``sf_dir/events.parquet`` as a file stream; the caller
    starts it with ``.writeStream`` (memory sink +
    ``trigger(availableNow=True)`` in the tests).

    The sixteen entries cover every streaming execution path the repo
    has (STREAMING_READY.md): the stateful NFA kernel (plain and
    span-bounded — ``within`` doubles as the run-state bound, in
    order-column units AND in event time via ``within_col``), three
    windowed-aggregation flavors, absence-via-timeout, strict negation
    (notNext) via watermark-final next-event candidates, streaming
    exact/URL dedup over the document feed (``dropDuplicates`` keyed
    state over a content digest / a canonical URL), STATELESS ingest
    projections (Bloom decontamination as a plan-literal in-row gate;
    annotation-span consolidation as a zero-state per-row fold — no
    state, no watermark for either), and FIXED-SIZE-state sketch
    aggregates (per-source HLL registers; per-source Count-Min cells —
    both complete mode).
    Each one's batch twin is a REGISTERED driver query with IDENTICAL
    arithmetic (exact cent sums / md5 digests / canonical URLs) —
    except ``text_boilerplate_stream``,
    ``cep_funnel_within_time_stream`` and ``cep_sql_funnel_stream``
    (the SQL:2016 MATCH_RECOGNIZE front end on a stream — round 14),
    whose twins are queue-staged round-15 queries (oracle-verified +
    suite-pinned, registration queued), and
    ``doc_cms_registers_stream``, whose batch twin is the shared
    ``sketch.cms_registers`` helper (the registered-queue form is the
    derived ``doc_cms_estimates``; register equality is pinned in
    tests).
    The streaming check is
    "stream result == batch twin (== oracle)": full equality for the
    kernel, dedup, and gate entries, and equality on watermark-CLOSED
    windows/spans/candidates for the windowed, absence, and notNext
    entries (append mode holds state the final watermark never passes —
    tests/test_streaming_entry.py pins all forms)."""
    from pyspark.sql import functions as F

    def cep_signup_to_purchase_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.cep.query import Query
        from reflinkcep_spark.session import ensure_package_shipped
        from reflinkcep_spark.streaming import match_pattern_stream

        ensure_package_shipped(spark)
        stream = _stream_events(spark, sf_dir).select(
            "user_id", "event_id", "event_type", "value"
        )
        out = match_pattern_stream(
            stream,
            Query.from_yaml(
                """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:  {type: spat, name: reg, event: signup,   cndt: {expr: "True"}}
  right: {type: spat, name: buy, event: purchase, cndt: {expr: value > 50}}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""
            ),
            order_by="event_id",
            partition_by="user_id",
        )
        return out.select(
            "user_id",
            F.element_at(F.col("reg"), 1)["event_id"].alias("signup_id"),
            F.element_at(F.col("buy"), 1)["event_id"].alias("purchase_id"),
        )

    def q_events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.streaming.aggregations import tumbling_agg

        return tumbling_agg(
            _stream_events(spark, sf_dir).select("ts", "event_type", "value")
        )

    def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.streaming.aggregations import sliding_agg

        return sliding_agg(
            _stream_events(spark, sf_dir).select("ts", "event_type", "value")
        )

    def q_session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.streaming.aggregations import session_agg

        return session_agg(
            _stream_events(spark, sf_dir).select("ts", "user_id", "value")
        )

    def cep_signup_abandoned_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        from reflinkcep_spark.session import ensure_package_shipped
        from reflinkcep_spark.streaming.absence import not_followed_by_stream

        ensure_package_shipped(spark)
        base = (
            _stream_events(spark, sf_dir)
            .select(
                "user_id",
                "event_id",
                "event_type",
                "ts",
                F.unix_micros("ts").alias("us"),
            )
            .withWatermark("ts", "30 minutes")
        )
        out = not_followed_by_stream(
            base,
            left_filter="event_type = 'signup'",
            right_filter="event_type = 'purchase'",
            on="us",
            by="user_id",
            within=30 * 60 * 1_000_000,
        )
        return out.select("user_id", F.col("event_id").alias("signup_id"))

    def cep_purchase_no_immediate_error_stream(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from reflinkcep_spark.session import ensure_package_shipped
        from reflinkcep_spark.streaming.absence import not_next_stream

        ensure_package_shipped(spark)
        base = (
            _stream_events(spark, sf_dir)
            .select(
                "user_id",
                "event_id",
                "event_type",
                "value",
                "ts",
                F.unix_micros("ts").alias("us"),
            )
            .withWatermark("ts", "30 minutes")
        )
        out = not_next_stream(
            base,
            left_filter="event_type = 'purchase' AND value > 100",
            neg_filter="event_type = 'error'",
            on="us",
            by="user_id",
        )
        return out.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("next_on").alias("next_us"),
        )

    def cep_funnel_within_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming twin of ``cep_funnel_within`` — the flagship
        beyond-reference CEP feature (``within``, cep/runtime.py) on
        the surface users would actually run it on: a live stream,
        where the span bound is not just match semantics but THE state
        bound that stops a hot key's relaxed-pattern run-set from
        growing with stream lifetime (streaming/cep.py prunes expired
        runs on every feed).  Same YAML, same ``within=100``, same
        output columns as the batch driver query; the test suite pins
        full equality (kernel entries need no watermark closure —
        ``event_id`` order, no event time)."""
        from reflinkcep_spark.cep.query import Query
        from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML
        from reflinkcep_spark.session import ensure_package_shipped
        from reflinkcep_spark.streaming import match_pattern_stream

        ensure_package_shipped(spark)
        stream = _stream_events(spark, sf_dir).select(
            "user_id", "event_id", "event_type", "value"
        )
        out = match_pattern_stream(
            stream,
            Query.from_yaml(FUNNEL_YAML),
            order_by="event_id",
            partition_by="user_id",
            within=100,
        )
        return out.select(
            "user_id",
            F.element_at(F.col("reg"), 1)["event_id"].alias("signup_id"),
            F.element_at(F.col("buy"), 1)["event_id"].alias("purchase_id"),
            F.element_at(F.col("err"), 1)["event_id"].alias("error_id"),
        )

    def dedup_exact_docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming exact dedup of the document feed: one row per
        FIRST-seen content digest — the ingest-time dedup gate of a
        continuously crawled corpus, batch twin ``dedup_exact_groups``
        (equality on the digest SET: the stream keeps the first
        arrival, whose doc_id depends on arrival order, so only the
        content digest is emitted).  Built on Structured Streaming's
        native ``dropDuplicates`` keyed state: state size is one entry
        per DISTINCT digest — inherent to whole-history exact dedup —
        held in the state store (RocksDB-backed on a real cluster);
        when the dup horizon is bounded in event time, production uses
        ``dropDuplicatesWithinWatermark`` so state ages out instead."""
        return (
            _stream_table(spark, sf_dir, "documents")
            .select(F.md5(F.col("text")).alias("text_hash"))
            .dropDuplicates(["text_hash"])
        )

    def dedup_url_canonical_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming URL-level dedup: one row per FIRST-seen canonical
        URL — the production ingest gate of a continuous crawl, where
        URL dedup runs BEFORE fetch/extraction precisely because it
        needs nothing but the URL string.  Canonicalization
        (functions/web.py canonical_url) is a stateless codegen
        projection, so the stream twin is native ``dropDuplicates``
        keyed state on the canonical form; the raw-URL builder is
        shared with the batch driver query (pipeline._raw_url), and
        the batch twin is ``dedup_url_canonical``'s canonical-URL set
        (the stream keeps the first arrival, whose doc_id depends on
        arrival order, so only the canonical URL is emitted — the
        dedup_exact_docs_stream determinism recipe).  State is one
        entry per distinct resource; a bounded-horizon production run
        uses ``dropDuplicatesWithinWatermark``."""
        from reflinkcep_spark.functions import web
        from reflinkcep_spark.queries.pipeline import _raw_url

        return (
            _stream_table(spark, sf_dir, "documents")
            .select("doc_id", "source")
            .select(web.canonical_url(_raw_url()).alias("canonical_url"))
            .dropDuplicates(["canonical_url"])
        )

    def doc_bloom_decontam_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming ingest-time decontamination gate (round-13 queue
        twin ``doc_bloom_decontam``): the benchmark's Bloom filter is
        materialized ONCE as a ≤128-word plan literal
        (functions/sketch.py bloom_literal — the centroid-literal
        recipe), then every arriving document is gated by a STATELESS
        in-row projection (bloom_gate_inline): gram set, two md5
        positions, word lookup, bit test — zero exchanges, zero
        streaming state, no watermark.  That is the production shape:
        contamination gating belongs at ingest, before any stateful
        stage sees the row, and a fixed-size literal is the only form
        of "seen set" a per-row gate can carry.  Equality vs the batch
        twin is EXACT (same grams, same bits, FP-for-FP)."""
        from reflinkcep_spark.functions import sketch
        from reflinkcep_spark.functions.dedup import _distinct_gram_rows
        from reflinkcep_spark.queries.pipeline import _docs

        bench = _docs(spark, sf_dir).filter(F.col("doc_id") < 25)
        # the SHARED gram closure (dedup._distinct_gram_rows), not a
        # hand copy: the batch twin builds its filter through the same
        # function, so the two surfaces cannot disagree about what
        # counts as a gram.
        words = sketch.bloom_literal(
            _distinct_gram_rows(bench, 3, "text", "doc_id", hashed=False)
            .select("g")
            .distinct(),
            m_bits=4096,
        )
        stream = _stream_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") >= 25
        )
        return sketch.bloom_gate_inline(stream, words, n=3)

    def doc_hll_registers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming corpus-statistics sketch (round-13 queue twin
        ``doc_hll_registers``): per-source HyperLogLog registers over
        the document stream — the aggregation whose STATE IS FIXED-SIZE
        (≤ sources·64 cells) no matter how long the stream runs, which
        is the whole reason to sketch a stream instead of counting it.
        Single-level grouping (Structured Streaming allows one
        aggregation, no grouping sets; the corpus rollup is a
        downstream MAX-merge — sketch mergeability doing its job);
        COMPLETE output mode, no watermark.  Shares the
        bucket/rank projection with the batch form
        (sketch._hll_hashed), equality vs the batch twin's per-source
        rows is EXACT."""
        from reflinkcep_spark.functions import sketch

        return sketch.hll_registers_single(
            _stream_table(spark, sf_dir, "documents"), buckets=64
        )

    def doc_span_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming annotation-span consolidation (round-13 queue twin
        ``doc_span_merge``): Dolma-style attribute merging is exactly
        an INGEST-time operation — each document arrives with its
        taggers' span lists and must carry one consolidated cover into
        the corpus — and ``merge_spans`` (functions/text.py) is a
        zero-exchange in-row fold, so the streaming twin is a STATELESS
        per-row projection: no state store, no watermark, no
        aggregation.  Spans are derived from doc_id by the same
        in-query arithmetic as the batch driver query (shared builder
        pipeline._span_merge_projection — the two surfaces cannot
        disagree about the derivation), and equality vs the batch twin
        is EXACT and total: stateless projections have no
        watermark-closure band."""
        from reflinkcep_spark.queries.pipeline import _span_merge_projection

        return _span_merge_projection(
            _stream_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % 20 != 0
            )
        )

    def doc_cms_registers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming Count-Min frequency sketch (round-14/15 queue
        family twin ``doc_cms_estimates``): per-source CMS register
        cells over the document stream — the second FIXED-SIZE-state
        aggregation (≤ sources·depth·width cells no matter how long
        the stream runs), and a LINEAR sketch: cells merge with ``+``,
        so shard/stream tables fold downstream without re-reading the
        stream (estimates are then a consumer-side min-fold, exactly
        like the HLL rollup).  One aggregation, COMPLETE output mode,
        no watermark; shares the cell-placement projection with the
        batch form (sketch._cms_hashed), equality vs batch
        ``cms_registers`` is EXACT (pinned in tests)."""
        from reflinkcep_spark.functions import sketch
        from reflinkcep_spark.queries.pipeline import _CMS_DEPTH, _CMS_WIDTH

        return sketch.cms_registers(
            _stream_table(spark, sf_dir, "documents"),
            width=_CMS_WIDTH,
            depth=_CMS_DEPTH,
        )

    def cep_funnel_within_time_stream(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Streaming twin of ``cep_funnel_within_time`` (round-15
        queue): the TIME-based ``within()`` — Flink's actual
        ``Pattern.within(Time.hours(48))`` semantics — enforced by the
        same kernel stamp plumbing on both surfaces (``within_col``
        threads ``unix_micros(ts)`` while ``event_id`` stays the order
        column).  On a stream the 48-hour bound is ALSO the state
        bound: runs whose first event's TIMESTAMP has expired are
        pruned on every feed, so a hot key's run-set is capped by its
        48-hour event rate, not stream lifetime.  Same output columns
        as the batch query; equality is EXACT and total (kernel
        entries need no watermark closure — ``event_id`` order)."""
        from reflinkcep_spark.cep.query import Query
        from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML
        from reflinkcep_spark.session import ensure_package_shipped
        from reflinkcep_spark.streaming import match_pattern_stream

        ensure_package_shipped(spark)
        stream = _stream_events(spark, sf_dir).select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )
        out = match_pattern_stream(
            stream,
            Query.from_yaml(FUNNEL_YAML),
            order_by="event_id",
            partition_by="user_id",
            within=48 * 3600 * 1_000_000,
            within_col="ts_us",
        )
        return out.select(
            "user_id",
            F.element_at(F.col("reg"), 1)["event_id"].alias("signup_id"),
            F.element_at(F.col("buy"), 1)["event_id"].alias("purchase_id"),
            F.element_at(F.col("err"), 1)["event_id"].alias("error_id"),
        )

    def text_boilerplate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming jusText-style boilerplate classification
        (round-15 queue twin ``text_boilerplate``): boilerplate
        stripping is an INGEST-time op in every production pipeline —
        each crawled document is profiled once, on arrival, before it
        enters the corpus — and ``boilerplate_profile``
        (functions/text.py) is a zero-exchange codegen projection, so
        the streaming twin is STATELESS: no state store, no watermark,
        no aggregation (the doc_span_merge_stream recipe).  The batch
        driver query and this twin call the SAME function on the same
        table, so the two surfaces cannot disagree; equality vs batch
        is EXACT and total."""
        from reflinkcep_spark.functions import text as text_fns

        return text_fns.boilerplate_profile(
            _stream_table(spark, sf_dir, "documents")
        )

    def cep_sql_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming twin of ``cep_sql_funnel`` (round-15 queue): the
        SQL:2016 MATCH_RECOGNIZE front end on a STREAM — sixteenth
        entry, proving the front end is not batch-only.  The shared
        spec (reluctant filler ``S G*? P`` + SKIP TO NEXT ROW) is
        exactly the finalization-free combination the streaming
        kernel's SQL selection supports: a start's winner is its
        first-completing candidate, so every match emits the moment it
        completes and equality vs batch is EXACT and total — modulo
        ``match_seq``, which is completion-ordered on the stream and
        start-ordered in batch, so both sides drop it in the pin
        (tests/test_streaming_entry.py)."""
        from reflinkcep_spark.cep.match_recognize import match_recognize_stream
        from reflinkcep_spark.queries.cep_queries import MR_FUNNEL_SPEC
        from reflinkcep_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        stream = _stream_events(spark, sf_dir).select(
            "user_id", "event_id", "event_type", "value"
        )
        return match_recognize_stream(stream, MR_FUNNEL_SPEC).drop("match_seq")

    return {
        "cep_signup_to_purchase_stream": cep_signup_to_purchase_stream,
        "q_events_tumbling_stream": q_events_tumbling_stream,
        "q_events_sliding_stream": q_events_sliding_stream,
        "q_session_windows_stream": q_session_windows_stream,
        "cep_signup_abandoned_stream": cep_signup_abandoned_stream,
        "cep_purchase_no_immediate_error_stream": cep_purchase_no_immediate_error_stream,
        "cep_funnel_within_stream": cep_funnel_within_stream,
        "dedup_exact_docs_stream": dedup_exact_docs_stream,
        "dedup_url_canonical_stream": dedup_url_canonical_stream,
        "doc_bloom_decontam_stream": doc_bloom_decontam_stream,
        "doc_hll_registers_stream": doc_hll_registers_stream,
        "doc_span_merge_stream": doc_span_merge_stream,
        "doc_cms_registers_stream": doc_cms_registers_stream,
        "cep_funnel_within_time_stream": cep_funnel_within_time_stream,
        "text_boilerplate_stream": text_boilerplate_stream,
        "cep_sql_funnel_stream": cep_sql_funnel_stream,
    }
