"""Streaming CEP operator: ``match_pattern_stream`` over a streaming DataFrame.

Physical strategy
-----------------
``df.groupBy(keys).applyInPandasWithState(step, ...)`` — Spark's
arbitrary-stateful-processing operator.  Per key, the persisted state is
the NFA's live run-set (the reference's ``S`` + event counter ``i``,
reference executor.py:27-29) plus the minimal trailing event buffer that
live runs still reference for capture output.  Matches are emitted in
append mode at the micro-batch in which their completing event arrives —
the same "emit at completion event" semantics as the reference
(executor.py:34-68) and the batch kernel.

State size is bounded by the automaton's live run-set, NOT by stream
history: the event buffer is pruned to positions at or after the oldest
live run's start offset every micro-batch, and an optional
processing-time ``idle_timeout_ms`` evicts keys that stop receiving
events (state TTL — mandatory hygiene for a 100 TB keyspace).

Ordering contract, two modes:

* **arrival order** (default) — rows are ordered per key by the batch
  kernel's rule (:func:`~reflinkcep_spark.cep.keyed.order_cols`:
  ``order_by`` with NULLs last, ties broken by the type and the other
  atomic columns); within a micro-batch we sort, across micro-batches
  the source must deliver each key's rows in order (Kafka
  per-partition order, file mtime order), and rows that tie on
  ``order_by`` in different micro-batches keep their arrival order.
  This mirrors the reference, which is explicitly processing-time
  (reference exp/genjava.py:93-94).
* **event time** (``event_time_col=...``) — out-of-order arrival is
  repaired with a watermark-gated reorder buffer: incoming rows park in
  state, and on every micro-batch exactly those with event time <= the
  current watermark are released to the NFA in the same per-key order
  (full ties in arrival order).  The
  caller applies ``df.withWatermark(event_time_col, delay)`` upstream;
  rows later than the delay are dropped by Spark before they reach us.
  Matches are therefore delayed by one watermark lag — the standard
  completeness/latency trade.

Per-key matching is the batch kernel's
:class:`~reflinkcep_spark.cep.keyed.KeyMatcher`, persisted as one
pickled BINARY blob of plain data; only the reorder buffer and the
idle-timeout flush are stream-only.  The plan-time facts and checks
are the batch operator's :class:`~reflinkcep_spark.cep.keyed.KeyedPlan`
with ``incremental=True``, which adds the stream's own rails (keyed
state, the SQL selection it can finalize).  The automaton ships once
inside the task closure, never in the state store.

Spark 4's ``transformWithStateInPandas`` would be the successor API
(typed state, timers, RocksDB); its Python driver worker needs
protobuf, which this container lacks (probed: StreamingPythonRunner
init fails on ``google.protobuf`` import), so the operator stays on
``applyInPandasWithState`` — same keyed-state model, default HDFS-backed
store.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from reflinkcep_spark.cep.keyed import KeyedPlan, KeyMatcher, frame, resolve_attr_cols
from reflinkcep_spark.cep.query import Query

__all__ = ["match_pattern_stream"]


def match_pattern_stream(
    df: DataFrame,
    query: Query,
    *,
    order_by: str,
    partition_by: str | Sequence[str],
    type_col: str | None = "event_type",
    attr_cols: Sequence[str] | None = None,
    max_active_runs: int = 100_000,
    idle_timeout_ms: int | None = None,
    event_time_col: str | None = None,
    within=None,
    within_col: str | None = None,
    sql_skip=None,
    sql_prefer: str = "longest",
) -> DataFrame:
    """Run a CEP pattern query over a *streaming* DataFrame.

    Same output schema as the batch :func:`match_pattern`:
    ``keys… | match_seq | start_ord | end_ord | <name>: ARRAY<STRUCT>…``.
    ``match_seq`` is a per-key monotone counter that survives across
    micro-batches.  Each micro-batch is fed in the batch operator's
    per-key order; rows that tie on ``order_by`` across micro-batches
    keep their arrival order.

    Parameters are the batch operator's, ``type_col`` included (a NULL
    type is the reserved ``cep.keyed.UNTYPED``; a parked row keeps it
    in the key's state), with these differences:

    * ``partition_by`` is mandatory (streaming state must be keyed);
    * no ``on_limit``: a key whose live run-set exceeds
      ``max_active_runs`` always raises
      :class:`~reflinkcep_spark.cep.keyed.MatchLimitExceeded` (batch's
      default) — there is no truncate mode;
    * no ``anchor_start`` / ``anchor_end``: ``$`` needs the key's last
      row, which an unbounded stream never has;
    * SQL selection (``sql_skip`` / ``sql_prefer``) only for
      ``("to_next", None)`` with ``"shortest"`` and at most one
      flexibly-quantified variable — see below — and
      ``match_seq`` is then numbered by completion, where batch
      numbers by start;
    * only here: ``idle_timeout_ms`` drops a key's run-set after that
      much processing-time inactivity, and ``event_time_col`` (below).

    ``idle_timeout_ms`` runs the state under Spark's processing-time
    timeout, and once the input is used up Spark keeps starting no-data
    micro-batches to look for expired keys.  So with it set, a query under
    ``trigger(availableNow=True)`` never terminates, and its
    ``processAllAvailable()`` never returns: the caller must stop the
    query itself.

    ``event_time_col`` enables the watermark-gated reorder buffer (see
    module docstring): pass the timestamp column AND apply
    ``df.withWatermark(event_time_col, delay)`` before calling.

    ``within`` bounds first-to-last match span in the units of the
    (numeric) ``order_by`` column, exactly as in the batch operator —
    on a stream it is ALSO the state bound that keeps a key's run-set
    from growing with stream lifetime (complementing the processing-
    time ``idle_timeout_ms``, which only reaps whole idle keys).

    ``within_col`` is the batch operator's; the last stamp persists
    in the key's state, so a regression ACROSS micro-batches raises.

    ``sql_skip`` / ``sql_prefer``: SQL:2016 MATCH_RECOGNIZE selection
    on a stream is restricted to the finalization-free combination,
    ``("to_next", None)`` with ``"shortest"``: a start's candidates
    arrive in ``(end, emission)`` order, so the first one IS the
    reluctant winner, and TO NEXT ROW makes every start eligible —
    each match emits the moment it completes.  Greedy preference and
    ordered skip modes raise (they need stream-end finalization).  So
    does a pattern with more than one flexibly-quantified variable
    (:func:`~reflinkcep_spark.cep.keyed.flexible_vars`): the first
    candidate to complete is then not always the lexicographic-min one.
    """
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    attr_cols = resolve_attr_cols(
        df.columns, keys, attr_cols, order_by, type_col, within_col,
        event_time_col,
    )
    projected = df.select(*keys, *attr_cols)
    # The stream has no on_limit option: a hot key raises
    # MatchLimitExceeded, as batch does by default.
    plan = KeyedPlan(
        query, order_by=order_by, type_col=type_col, attr_cols=attr_cols,
        keys=keys, within=within, within_col=within_col,
        max_active_runs=max_active_runs,
        sql_skip=sql_skip, sql_prefer=sql_prefer, incremental=True,
        schema=projected.schema,
    )
    out_columns = plan.out_schema.names
    # Rows of event types no run reacts to never reach the state store.
    keep = plan.inert_filter(
        projected.schema, idle_timeout_ms=idle_timeout_ms,
        event_time_col=event_time_col,
    )
    if keep is not None:
        projected = projected.filter(keep)
    n_keys = len(keys)
    timeout = "ProcessingTimeTimeout" if idle_timeout_ms else "NoTimeout"
    state_schema = StructType([StructField("blob", BinaryType(), True)])

    def release(pending: list, wm: int) -> tuple[list, list]:
        """Parked ``(ts_ms, type, record)`` rows at or below the watermark,
        as ``(type, record)`` in the per-key order, and the rest."""
        ready = sorted((p for p in pending if p[0] <= wm), key=lambda p: plan.order_key(p[2]))
        return [(t, r) for _ms, t, r in ready], [p for p in pending if p[0] > wm]

    def step(key: tuple, pdf_iter: Iterable[pd.DataFrame], state):
        key_values = dict(zip(keys, key[:n_keys]))
        if state.hasTimedOut:
            # Idle eviction.  In event-time mode, first flush whatever
            # the watermark has already released — otherwise parked
            # events (and their matches) would vanish with the state.
            rows: list[dict] = []
            if event_time_col is not None and state.exists:
                matcher, pending = KeyMatcher.from_blob(plan, key_values, state.get[0])
                ready, _ = release(pending, state.getCurrentWatermarkMs())
                rows = matcher.feed(ready)
            state.remove()
            if rows:
                yield frame(rows, out_columns)
            return

        if state.exists:
            matcher, pending = KeyMatcher.from_blob(plan, key_values, state.get[0])
        else:
            matcher, pending = KeyMatcher(plan, key_values), []

        chunks = [p for p in pdf_iter if len(p)]
        incoming: list = []  # [(ev_type, record)] in feed order
        if chunks:
            incoming = plan.events(chunks[0] if len(chunks) == 1 else pd.concat(chunks))

        if event_time_col is not None:
            # Watermark-gated reorder buffer: park everything, release
            # rows whose event time the watermark has passed, oldest
            # first.  Spark already dropped rows older than the
            # watermark delay, so `pending` is bounded by delay × rate.
            wm = state.getCurrentWatermarkMs()
            for ev_type, rec in incoming:
                ts = rec[event_time_col]
                ts_ms = ts.value // 1_000_000 if ts is not None else None
                # ts < wm is LATE: the NFA may already have consumed
                # later events; feeding it would violate event-time
                # order, so it is dropped (the watermark contract).
                # applyInPandasWithState does not pre-filter late rows
                # the way windowed aggregations do — that is on us.
                if ts_ms is not None and ts_ms >= wm:
                    pending.append((ts_ms, ev_type, rec))
            incoming, pending = release(pending, wm)

        rows = matcher.feed(incoming)
        state.update((matcher.to_blob(pending),))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        if rows:
            yield frame(rows, out_columns)

    return projected.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        step,
        outputStructType=plan.out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
