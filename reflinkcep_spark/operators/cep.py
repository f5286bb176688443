"""Batch CEP operator: ``match_pattern`` over a DataFrame.

Physical strategy
-----------------
The pattern kernel is a *grouped-map* operator:

    df.repartition(keys).groupBy(keys).applyInPandas(run_nfa, schema)

Each key's substream is matched independently — the one shuffle on the
partition key is the only data movement, and parallelism scales with
the number of keys (users/sessions/devices), which is exactly the axis
that grows with data size.  Within a group, rows are sorted by the
order column and fed through the NFA run-set engine
(:mod:`reflinkcep_spark.cep.runtime`) by the per-key matcher the stream
kernel shares (:mod:`reflinkcep_spark.cep.keyed`); Arrow carries the
batch across the JVM↔Python boundary once in each direction.

For patterns with a pure-Catalyst equivalent (plain filters, strict
sequences), :mod:`reflinkcep_spark.operators.fastpath` avoids Python
entirely; ``match_pattern(..., allow_fastpath=True)`` dispatches
automatically.

At 100 TB: the scan prunes columns to key+order+type+referenced attrs
(we select them explicitly before the shuffle), the shuffle is on the
match key (unavoidable for any per-key order-sensitive operator — same
as Flink's keyBy), and state is bounded per key by the automaton's live
run-set, not by history.  A ``max_active_runs`` guard caps the
combinatorial blowup nd-relaxed patterns can exhibit.

Output: one row per match:
    keys… | match_seq | start_<ord> | end_<ord> | <name>: ARRAY<STRUCT<event>> …

Capture columns are NULL when the (optional) sub-pattern captured
nothing, mirroring the reference's omitted-key rule (DST.py:302-311).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from reflinkcep_spark.cep.keyed import (
    KeyedPlan,
    KeyMatcher,
    MatchLimitExceeded,
    check_sql,
    frame,
    output_schema,
    resolve_attr_cols,
)
from reflinkcep_spark.cep.query import Query

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
        Column defining the total order of each (sub)stream.  Must be
        unique within a partition key (e.g. ``event_id``).
    partition_by:
        Key column(s); each key is an independent substream (Flink's
        ``keyBy``).  ``None`` = one global stream (single-task — only
        for small inputs or tests).
    type_col:
        Column holding the event type matched against the pattern's
        ``event`` fields; ``None`` treats every row as the pattern's
        sole declared type.
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
        shuffle: Scan → Sort (within buckets) → FlatMapGroupsInPandas
        (verified in tests/test_bucketed_sink.py).  This is the
        standing-event-log shape at 100 TB: bucket the log once on
        the CEP key at ingest, then every pattern query over it is
        shuffle-free.  Parallelism equals the bucket count, so size
        buckets accordingly; AQE's partition coalescing (the reason
        the default path pins an explicit repartition) does not apply
        because there is no exchange to coalesce.  Misuse warning: if
        the input is NOT key-clustered, a key's rows span several
        partitions and each emits its own (wrong) match set.
    """
    if on_limit not in ("raise", "truncate"):
        raise ValueError(f"on_limit must be 'raise' or 'truncate', got {on_limit!r}")
    if sql_skip is not None:
        check_sql(query, sql_skip, sql_prefer)
        allow_fastpath = False
    if (anchor_start or anchor_end) and sql_skip is None:
        raise ValueError(
            "anchor_start/anchor_end are part of the SQL selection "
            "surface (MATCH_RECOGNIZE ^/$) — pass sql_skip too"
        )
    keys = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    attr_cols = resolve_attr_cols(
        df.columns, keys, attr_cols, order_by, type_col, within_col
    )

    if allow_fastpath and (
        within is None
        or (query.strategy == "NoSkip" and within_col in (None, order_by))
    ):
        from reflinkcep_spark.operators.fastpath import try_fast_path

        fast = try_fast_path(
            df,
            query,
            order_by=order_by,
            keys=keys,
            type_col=type_col,
            attr_cols=attr_cols,
        )
        if fast is not None:
            if within is not None:
                # NoSkip emission == kernel emission (differentially
                # pinned), and kernel-with-within == kernel filtered
                # to span <= within, so the bound composes as a filter.
                fast = fast.filter(
                    (F.col("end_ord") - F.col("start_ord")) <= F.lit(within)
                )
            return fast

    # Column pruning before the shuffle: ship only what the kernel reads.
    projected = df.select(*keys, *attr_cols)
    out_schema = output_schema(
        projected.schema, keys, attr_cols, order_by, query.names
    )
    out_columns = [f.name for f in out_schema.fields]
    # Zero-match groups are the common case; hand them one cached
    # empty frame instead of re-running the DataFrame constructor.
    empty_out = pd.DataFrame(columns=out_columns)
    plan = KeyedPlan(
        query, order_by=order_by, type_col=type_col, attr_cols=attr_cols,
        within=within, within_col=within_col,
        max_active_runs=max_active_runs, on_limit=on_limit,
        sql_skip=sql_skip, sql_prefer=sql_prefer,
        anchor_start=anchor_start, anchor_end=anchor_end,
    )

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key_values = {k: pdf.iloc[0][k] for k in keys} if len(pdf) else {}
        events = plan.events(pdf)
        matcher = KeyMatcher(plan, key_values, last_pos=len(events) - 1)
        rows = matcher.feed(events) + matcher.finish()
        return frame(rows, out_columns, empty_out)

    # Pin the kernel's parallelism: AQE's size-based partition
    # coalescing sees a few MB of shuffled events and would squash the
    # exchange to 1-2 partitions, serializing the Python NFA onto 1-2
    # cores (measured 32→2 tasks at sf0.1).  An explicit repartition
    # with a fixed count is exempt from coalescing, and groupBy reuses
    # its hash partitioning, so there is still exactly ONE shuffle.
    if keys and pre_partitioned:
        # Caller-asserted key-clustered input (bucketed table): groupBy
        # alone satisfies FlatMapGroupsInPandas' required distribution
        # from the scan's bucket partitioning — zero exchanges.
        grouped = projected.groupBy(*keys)
    elif keys:
        n_parts = int(
            projected.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        grouped = projected.repartition(n_parts, *keys).groupBy(*keys)
    else:
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
        grouped = projected.groupBy()
    return grouped.applyInPandas(run_group, schema=out_schema)
