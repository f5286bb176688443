"""Batch CEP operator: ``match_pattern`` over a DataFrame.

Physical strategy
-----------------
The pattern kernel is one sorted pass per partition:

    df.repartition(n, keys)
      .withColumn(pos, row_number() over (partition by keys order by <rule>))
      .mapInPandas(kernel, schema)

Each key's substream is matched independently — the one shuffle on the
partition key is the only data movement, and parallelism scales with
the number of keys (users/sessions/devices), which is exactly the axis
that grows with data size.  The Window sorts each partition by the keys
and the per-key order rule (:func:`reflinkcep_spark.cep.keyed.order_cols`:
``order_by``, then the type and the other atomic columns, NULLs last)
and its ``pos == 1`` marks where a key starts.  The Python
side takes one Arrow batch at a time, splits it at key starts and feeds
each complete key through the NFA run-set engine
(:mod:`reflinkcep_spark.cep.runtime`) by the per-key matcher the stream
kernel shares (:mod:`reflinkcep_spark.cep.keyed`); a key that runs past
the end of a batch carries over to the next one.  Spark's per-group
framing (one Python call per key) is gone: the cost per key is the
matcher alone, and Arrow carries each batch across the JVM↔Python
boundary once in each direction.

For patterns with a pure-Catalyst equivalent (strict/relaxed and
nd-relaxed chains of simple events, strict loops),
:mod:`reflinkcep_spark.operators.fastpath` avoids Python entirely;
``match_pattern(..., allow_fastpath=True)`` offers it the projection
and the plan first, and :func:`~reflinkcep_spark.operators.fastpath.try_fast_path`
decides the dispatch.  Every plan-time fact and check the paths share
(per-key order, output schema, ``on_limit``, SQL selection, the
reserved ``__cep_pos`` name) is :class:`~reflinkcep_spark.cep.keyed.KeyedPlan`'s.

At 100 TB: before the shuffle (and before the fast-path dispatch) the
operator selects the key columns plus ``attr_cols`` — every non-key
column unless the caller names fewer — and the order, type and stamp
columns, and drops the rows of the pattern's inert event types, which
no run can react to (``KeyedPlan.inert_filter``: under relaxed
contiguity, a declared type no step names is only ever skipped).  The
shuffle is on the match key (unavoidable for any per-key
order-sensitive operator — same as Flink's keyBy), and state is bounded
per key by the automaton's live run-set, not by history.  A ``max_active_runs`` guard caps the
combinatorial blowup nd-relaxed patterns can exhibit.

Output: one row per match:
    keys… | match_seq | start_<ord> | end_<ord> | <name>: ARRAY<STRUCT<event>> …

Capture columns are NULL when the (optional) sub-pattern captured
nothing, mirroring the reference's omitted-key rule (DST.py:302-311).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from reflinkcep_spark.cep.keyed import (
    POS,
    KeyedPlan,
    KeyMatcher,
    MatchLimitExceeded,
    frame,
    key_partitioned,
    resolve_attr_cols,
    sort_exprs,
)
from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.operators.fastpath import try_fast_path

__all__ = ["match_pattern", "MatchLimitExceeded"]


def match_pattern(
    df: DataFrame,
    query: Query,
    *,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    type_col: str | None = "event_type",
    attr_cols: Sequence[str] | None = None,
    allow_fastpath: bool = True,
    max_active_runs: int = 100_000,
    on_limit: str = "raise",
    within=None,
    within_col: str | None = None,
    pre_partitioned: bool = False,
    sql_skip: tuple[str, str | None] | None = None,
    sql_prefer: str = "longest",
    anchor_start: bool = False,
    anchor_end: bool = False,
) -> DataFrame:
    """Run a CEP pattern query over a DataFrame of events.

    Parameters
    ----------
    order_by:
        Column ordering each (sub)stream, ascending with NULLs last.
        Rows that tie on it are ordered by the type column, then by
        every other atomic column in projection order
        (``cep.keyed.order_cols``), on every physical path and input
        layout; only rows equal in all of them keep an arbitrary order.
    partition_by:
        Key column(s); each key is an independent substream (Flink's
        ``keyBy``).  ``None`` = one global stream (single-task — only
        for small inputs or tests).
    type_col:
        Column holding the event type matched against the pattern's
        ``event`` fields.  A row whose type is NULL has a type no step
        names (``cep.keyed.UNTYPED``): relaxed links skip it, strict
        links break on it, on every physical path.  ``None`` treats
        every row as the pattern's sole declared type, and raises
        ``ValueError`` if the pattern declares several.
    attr_cols:
        Attribute columns visible to conditions; defaults to every
        column except the partition key(s).
    on_limit:
        What to do when a key's live run-set exceeds
        ``max_active_runs``.  ``"raise"`` (default) aborts the job with
        :class:`MatchLimitExceeded`.  ``"truncate"`` degrades instead
        of dying: the key's remaining events are skipped, matches
        found so far are kept, and ONE sentinel row with
        ``match_seq = -1`` (null bounds/captures) flags the key as
        truncated — at 100 TB one pathological hot key should mark
        itself, not abort the other billion keys' work.
    within:
        Bound the span between a match's first and last event, in the
        UNITS OF ``order_by`` (which must then be numeric — e.g.
        microseconds for ``unix_micros(ts)``, positions for a
        sequence number).  Flink CEP's ``within()``: besides
        restricting matches, it prunes expired runs before every
        event, bounding live state on keys where relaxed patterns
        would otherwise accumulate runs without limit.  The fast-path
        planner stays eligible under NoSkip — its emission set equals
        the kernel's, so the bound is applied as an equivalent span
        post-filter; under skip strategies the kernel runs, because
        suppressing an over-long match can change WHICH match a skip
        strategy emits, which no post-filter can reproduce.
    within_col:
        Optional NUMERIC column supplying the stamp ``within`` is
        measured against INSTEAD of ``order_by`` — the time-based
        bound when the order column is a sequence number: pass e.g.
        ``unix_micros(ts)`` as a column and ``within`` in
        microseconds, and batch ``within()`` means exactly what the
        streaming twin's does (Flink's time-bounded ``within()``).
        Must be non-decreasing in ``order_by`` order within each key,
        because expired-run pruning assumes monotone stamps — NULL or
        regressing stamps raise ``ValueError`` naming the key and order
        position.  Default ``None``: stamps are the ``order_by`` values.  The fast-path planner is bypassed when this
        differs from ``order_by`` (its span post-filter sees only
        ``start_ord``/``end_ord``, not stamps); the kernel enforces
        the bound natively.
    sql_skip:
        Switch the kernel to SQL:2016 MATCH_RECOGNIZE match selection
        (used by :func:`reflinkcep_spark.cep.match_recognize`): the
        query must use ``NoSkip`` (the engine emits EVERY
        nondeterministic assignment), and per key the emission is then
        reduced to one match per eligible start row, scanning starts
        in row order and advancing per the skip mode — a tuple of
        ``("past_last", None)``, ``("to_next", None)``,
        ``("to_first", var)`` or ``("to_last", var)``.  ``sql_prefer``
        picks ``"longest"`` (SQL greedy quantifiers, the default) or
        ``"shortest"`` (reluctant) among a start's candidates, by
        SQL:2016's lexicographic quantifier preferment (see
        ``cep.keyed._sql_select``).  The fast path is bypassed (its
        emission equals the kernel's UNSELECTED stream).
    anchor_start / anchor_end:
        SQL:2016 partition anchors (MATCH_RECOGNIZE ``^`` / ``$``):
        discard candidates whose first captured row is not the key's
        FIRST row (``anchor_start``) or whose last captured row is
        not the key's LAST row (``anchor_end``) BEFORE the per-start
        selection fold.  Part of the SQL selection surface — passing
        either without ``sql_skip`` raises.
    pre_partitioned:
        The caller asserts the input is ALREADY hash-distributed on
        the partition key(s) — e.g. a table written with
        ``sinks.write_bucketed(events, ..., key=partition_by)`` and
        read back via ``spark.table`` — so the kernel skips its
        explicit repartition and the whole plan runs WITHOUT ANY
        shuffle: bucketed Scan → Sort (within buckets) → Window →
        MapInPandas (verified in tests/test_bucketed_sink.py).  The
        Window's clustering requirement is what keeps the scan
        bucketed, so a bucket's files stay in one task.  This is the
        standing-event-log shape at 100 TB: bucket the log once on
        the CEP key at ingest, then every pattern query over it is
        shuffle-free.  Parallelism equals the bucket count, so size
        buckets accordingly; AQE's partition coalescing (the reason
        the default path pins an explicit repartition) does not apply
        because there is no exchange to coalesce.  Misuse warning: if
        the input is NOT key-clustered, a key's rows span several
        partitions and each emits its own (wrong) match set.
    """
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    attr_cols = resolve_attr_cols(
        df.columns, keys, attr_cols, order_by, type_col, within_col
    )

    # Column pruning before the shuffle: ship only what the plan reads,
    # minus the rows of event types no run reacts to.
    projected = df.select(*keys, *attr_cols)
    plan = KeyedPlan(
        query, order_by=order_by, type_col=type_col, attr_cols=attr_cols,
        keys=keys, within=within, within_col=within_col,
        max_active_runs=max_active_runs, on_limit=on_limit,
        sql_skip=sql_skip, sql_prefer=sql_prefer,
        anchor_start=anchor_start, anchor_end=anchor_end,
        schema=projected.schema,
    )
    keep = plan.inert_filter(projected.schema)
    if keep is not None:
        projected = projected.filter(keep)

    if allow_fastpath and (fast := try_fast_path(projected, plan)) is not None:
        return fast

    out_columns = plan.out_schema.names

    def run_group(key_values: dict, events: list) -> list[dict]:
        """One key's complete input → its output rows."""
        matcher = KeyMatcher(plan, key_values, last_pos=len(events) - 1)
        return matcher.feed(events) + matcher.finish()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One partition's rows, sorted by keys and the rule; POS == 1
        # starts a key.  The open key's events carry across batches and
        # run once the next key starts or the partition ends.
        key_values: dict = {}
        events: list = []
        for pdf in batches:
            batch = plan.events(pdf, ordered=True)
            key_cols = [pdf[k].tolist() for k in keys]
            rows: list = []
            done = 0
            for s in np.flatnonzero(pdf[POS].to_numpy() == 1).tolist():
                events += batch[done:s]
                if events:
                    rows += run_group(key_values, events)
                key_values = {k: col[s] for k, col in zip(keys, key_cols)}
                events = []
                done = s
            events += batch[done:]
            if rows:
                yield frame(rows, out_columns)
        if events:
            rows = run_group(key_values, events)
            if rows:
                yield frame(rows, out_columns)

    # Pin the kernel's parallelism (key_partitioned); the Window reuses
    # the hash partitioning, so there is exactly ONE shuffle.
    if keys and not pre_partitioned:
        projected = key_partitioned(projected, keys)
    elif not keys:
        # Total-order CEP over an unkeyed stream is inherently ONE
        # group = one task = one core, regardless of cluster size.
        # Loud at plan time so nobody ships it against 100 TB silently.
        import warnings

        warnings.warn(
            "match_pattern called without partition_by: the whole input "
            "collapses into a single task (total-order CEP cannot "
            "parallelize). Key the stream (e.g. partition_by='user_id') "
            "for any non-trivial input.",
            UserWarning,
            stacklevel=2,
        )
    # The Window requires clustering on the keys (a bucketed scan keeps
    # its bucketing, where sortWithinPartitions would have the planner
    # drop it) and sorts each partition by the keys and the per-key
    # order rule; row_number() marks key starts.
    ordered = projected.withColumn(
        POS,
        F.row_number().over(
            Window.partitionBy(*keys).orderBy(*sort_exprs(plan.order_cols))
        ),
    )
    return ordered.mapInPandas(kernel, schema=plan.out_schema)
