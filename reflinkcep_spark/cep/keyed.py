"""Per-key CEP matching shared by the batch and the stream kernel.

Both Spark kernels feed each partition key's events, in order, through
a :class:`~reflinkcep_spark.cep.runtime.MatchEngine` and turn its
matches into rows.  Everything a key needs around the NFA lives here,
once: the per-key row order every CEP path reads (:func:`order_cols`),
:class:`KeyedPlan` (every plan-time fact and check of one operator,
read by every physical path: per-key order, output schema, SQL and
stream rails, sole event type) and :class:`KeyMatcher` (one key's
engine, record buffer, ``match_seq``, stamp check, run limit, SQL
selection, rows and state blob).  The batch kernel feeds a key once and calls ``finish()``; the
stream kernel restores the matcher from the key's state blob, feeds
what the watermark released and saves it again — keyed state behind
one operator definition (Flink, VLDB'17), one query definition for
batch and incremental execution (Structured Streaming, SIGMOD'18).

No Spark import at module level, so the matcher runs without a JVM.
"""

from __future__ import annotations

import pickle
from dataclasses import InitVar, dataclass
from typing import Sequence

import pandas as pd

from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.cep.runtime import MatchEngine, _Cfg

__all__ = [
    "POS", "UNTYPED", "KeyMatcher", "KeyedPlan", "MatchLimitExceeded",
    "flexible_vars", "frame", "key_partitioned", "order_cols", "order_key",
    "records", "resolve_attr_cols", "sort_exprs",
]

# The event type of a row whose type column is NULL: one more declared
# type that no step names (KeyedPlan).  A string, because the stream's
# parked rows carry their type through the pickled state blob.
UNTYPED = "__untyped__"

# Each row's 1-based position within its key, in the per-key order:
# the batch kernel's key-start marker.  No input column may take it.
POS = "__cep_pos"


class MatchLimitExceeded(RuntimeError):
    """Raised when a key's live run-set exceeds ``max_active_runs``."""


# -- pandas <-> records ---------------------------------------------------


def records(pdf: pd.DataFrame, cols: Sequence[str]) -> list[dict]:
    """``pdf[cols].to_dict("records")`` at ~1/5 the per-call cost, with
    identical value boxing (pinned in tests/test_spark_kernel.py) — the
    kernels pay it once per key."""
    columns = [pdf[c].tolist() for c in cols]
    return [dict(zip(cols, row)) for row in zip(*columns)]


def frame(rows: list[dict], cols: Sequence[str]) -> pd.DataFrame:
    """``pd.DataFrame(rows, columns=cols)`` without list-of-dicts
    inference: every row carries every column, so a dict-of-lists frame
    is identical (pinned in tests/test_spark_kernel.py)."""
    if not rows:
        return pd.DataFrame(columns=list(cols))
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols})


# -- the per-key row order --------------------------------------------------


def order_cols(order_by: str, type_col, attr_cols: Sequence[str], schema=None) -> list[str]:
    """The per-key row order of every CEP path, as the columns it sorts
    by: ``order_by``, then the type column, then every other atomic
    column of ``attr_cols`` in projection order, each ascending with
    NULLs last (:func:`sort_exprs`, :func:`order_key`).  Rows that tie on
    ``order_by`` so get one order on every path and input layout; only
    rows equal in every atomic column keep an arbitrary order.
    ``schema`` (the projected input's) drops the columns that have no
    order (array, map, struct, variant); without it every column counts
    as atomic.  Reserved ``__`` columns never join the rule: the
    kernel's row position and MATCH_RECOGNIZE's navigation and stamp
    columns are computed over this very order."""
    from pyspark.sql.types import AtomicType, VariantType

    def ordered(c):
        t = AtomicType() if schema is None else schema[c].dataType
        return isinstance(t, AtomicType) and not isinstance(t, VariantType)

    tail = [c for c in (type_col, *attr_cols) if c and not c.startswith("__") and ordered(c)]
    return list(dict.fromkeys([order_by, *tail]))


def sort_exprs(cols, reverse: bool = False) -> list:
    """The rule over ``cols`` (names or Columns) as Spark sort keys,
    each ascending with NULLs last (NaN after every number); ``reverse``
    is its exact mirror, each descending with NULLs first, for windows
    that read a key backwards."""
    from pyspark.sql import functions as F

    key = F.desc_nulls_first if reverse else F.asc_nulls_last
    return [key(c) for c in cols]


def order_key(cols: Sequence[str]):
    """The rule's Python form: a sort key over a record that orders as
    :func:`sort_exprs` does in Spark — values, then NaN, then NULL
    (None).  Python orders strings by code point, which is Spark's UTF-8
    byte order.  A pandas frame holds a numeric NULL as NaN, so rows
    read from one rank it with the NaNs, still after every value."""
    return lambda rec: tuple(_rank(rec[c]) for c in cols)


def _rank(v) -> tuple:
    return (2,) if v is None else (1,) if v != v else (0, v)


# -- plan time --------------------------------------------------------------


def resolve_attr_cols(
    columns: Sequence[str],
    keys: Sequence[str],
    attr_cols: Sequence[str] | None,
    order_by: str,
    type_col: str | None,
    within_col: str | None,
    event_time_col: str | None = None,
) -> list[str]:
    """The per-event columns a kernel ships: ``attr_cols`` (default:
    every non-key column) plus each column the kernel itself reads."""
    cols = [c for c in columns if c not in keys] if attr_cols is None else list(attr_cols)
    for c in (order_by, type_col, event_time_col, within_col):
        if c is not None and c not in cols:
            cols.append(c)
    return cols


def key_partitioned(df, keys: Sequence[str]):
    """``df`` hash-partitioned on ``keys`` into exactly
    ``spark.sql.shuffle.partitions`` parts, the one exchange below a
    per-key window.  AQE's size-based coalescing sees a few MB of
    shuffled events and would squash the exchange to 1-2 partitions,
    serializing the Python NFA onto 1-2 cores (measured 32→2 tasks at
    sf0.1); an explicit count is exempt, and a window keyed on the same
    columns reuses the partitioning."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n_parts, *keys)


def _check_sql(query: Query, sql_skip, sql_prefer: str) -> None:
    """Validate a SQL:2016 selection request (``sql_skip`` /
    ``sql_prefer``) against the query before any kernel runs."""
    if query.strategy != "NoSkip":
        raise ValueError(
            "sql_skip requires strategy NoSkip (SQL selection is "
            f"applied over the full emission), got {query.strategy!r}"
        )
    if sql_skip[0] not in ("past_last", "to_next", "to_first", "to_last"):
        raise ValueError(f"unknown sql_skip mode {sql_skip[0]!r}")
    if sql_skip[0] in ("to_first", "to_last") and sql_skip[1] not in query.names:
        raise ValueError(
            f"sql_skip targets unknown variable {sql_skip[1]!r} "
            f"(have {query.names})"
        )
    if sql_prefer not in ("longest", "shortest"):
        raise ValueError("sql_prefer must be 'longest' or 'shortest'")
    _validate_sql_pattern(query, sql_prefer)


def _min_len(node) -> int:
    """Minimum number of rows a pattern node can consume."""
    t = node.get("type")
    if t == "spat":
        return 1
    if t in ("lpat", "lpat-inf"):
        return int(node["loop"]["from"])
    if t == "combine":
        return _min_len(node["left"]) + _min_len(node["right"])
    if t == "alt":
        return min(_min_len(node["left"]), _min_len(node["right"]))
    if t == "gpat":
        return _min_len(node["child"])
    if t in ("gpat-times", "gpat-inf"):
        return max(1, int(node["loop"]["from"])) * _min_len(node["child"])
    raise ValueError(f"unknown node type {t!r}")


def _validate_sql_pattern(query, sql_prefer: str = "longest") -> None:
    """The lexicographic selection key assumes a candidate's capture
    lengths DETERMINE its rows: strict contiguity everywhere and unique,
    flat pattern variables.  Ordered alternation is fine under GREEDY
    preference only: branch variables sit in the lens tuple in written
    order, so lexicographic MAX honours SQL:2016's written-order
    preferment and MIN would invert it.  The MATCH_RECOGNIZE translator
    emits only such queries; anything else is rejected here."""
    def walk(node):
        t = node.get("type")
        if t == "combine":
            if node.get("contiguity") != "strict":
                raise ValueError(
                    "sql_skip requires STRICT contiguity throughout the "
                    f"pattern (found {node.get('contiguity')!r} combine): "
                    "with gaps, equal capture-length tuples no longer "
                    "imply equal matches and the SQL preference key is "
                    "ambiguous"
                )
            walk(node["left"])
            walk(node["right"])
        elif t == "alt":
            if sql_prefer != "longest":
                raise ValueError(
                    "sql_skip with alternation requires GREEDY selection "
                    "(sql_prefer='longest'): lexicographic-min would "
                    "prefer the RIGHT alternative, inverting SQL's "
                    "alternatives-in-written-order preferment"
                )
            for side in ("left", "right"):
                if _min_len(node[side]) == 0:
                    raise ValueError(
                        "sql_skip with alternation requires every branch "
                        "to match at least one row: a zero-min branch's "
                        "candidate can carry an all-zero lens prefix, and "
                        "lexicographic MAX would then prefer the RIGHT "
                        "alternative over the written order"
                    )
            walk(node["left"])
            walk(node["right"])
        elif t in ("spat", "lpat", "lpat-inf"):
            loop = node.get("loop")
            if loop is not None and loop.get("contiguity") != "strict":
                raise ValueError(
                    "sql_skip requires STRICT loop contiguity (found "
                    f"{loop.get('contiguity')!r} on {node.get('name')!r})"
                )
            names_seen.append(node["name"])
        else:
            raise ValueError(
                f"sql_skip does not support {t!r} pattern nodes (flat "
                "strict concatenation only — the MATCH_RECOGNIZE subset)"
            )

    names_seen: list = []
    walk(query.patseq)
    if len(names_seen) != len(set(names_seen)):
        raise ValueError(
            "sql_skip requires unique pattern variables (a repeated "
            "name's captures merge, breaking the per-variable length key)"
        )


def flexible_vars(patseq) -> list:
    """The variables of a SQL-selection pattern whose capture length
    varies between candidates, in pattern order: a bounded loop with
    ``from != to``, an unbounded loop, and every variable under an
    alternation (it captures nothing when its branch is not taken).
    The stream emits a start's FIRST-completing candidate, which is
    SQL's lexicographic-min preference only when at most one variable
    is flexible."""
    out: list = []

    def walk(node, under_alt):
        t = node.get("type")
        if t in ("combine", "alt"):
            walk(node["left"], under_alt or t == "alt")
            walk(node["right"], under_alt or t == "alt")
        elif under_alt or t == "lpat-inf" or (
            t == "lpat" and node["loop"]["from"] != node["loop"]["to"]
        ):
            out.append(node["name"])

    walk(patseq, False)
    return out


# -- SQL selection ------------------------------------------------------------


def _sql_select(best_by_start: dict, skip) -> list:
    """SQL:2016 row-pattern match selection: scan candidate starts in
    row order, keep each eligible start's preferred match, then advance
    the next eligible start per the AFTER MATCH SKIP mode.  This is the
    semantic layer MATCH_RECOGNIZE adds over the Flink-CEP-style
    engine, whose own skip strategies act on EMISSION order
    (first-completing ≈ reluctant) rather than start order.

    ``best_by_start`` maps each start to its preferred candidate
    ``((min_pos, max_pos, captures), key)``, ranked during the feed
    by :meth:`KeyMatcher._on_match`.
    """
    mode, var = skip
    out = []
    min_start = 0
    for s, (chosen, _key) in sorted(best_by_start.items()):
        if s < min_start:
            continue
        out.append(chosen)
        if mode == "past_last":
            min_start = chosen[1] + 1
        elif mode == "to_next":
            min_start = s + 1
        else:  # to_first / to_last <var>
            clause = f"AFTER MATCH SKIP TO {mode.split('_')[1].upper()} {var}"
            pos = chosen[2].get(var)
            if not pos:
                raise ValueError(f"{clause}: variable captured no row in the match")
            target = pos[0] if mode == "to_first" else pos[-1]
            if target <= s:
                raise ValueError(
                    f"{clause} resolves to the match's own start row — "
                    "infinite loop (SQL:2016 forbids this)"
                )
            min_start = target
    return out


# -- state blob codec -------------------------------------------------------


def _save_engine(
    engine: MatchEngine, match_seq: int, buffer: dict, pending: list,
    last_stamp=None, emitted_starts=None,
) -> bytes:
    runs = [(k, (c.state, c.env, c.caps, c.first)) for k, c in engine.runs]
    return pickle.dumps(
        (engine.pos, runs, match_seq, buffer, pending, last_stamp,
         emitted_starts),
        protocol=5,
    )


def _load_engine(blob: bytes, engine: MatchEngine) -> tuple:
    data = pickle.loads(blob)
    # Older checkpoints: no last_stamp / emitted_starts elements, and
    # runs carry two more fields (a take flag and an ε-guard) before
    # ``first``, which the step table no longer needs; their dead runs
    # consume nothing and are gone after the next event.
    pos, runs, match_seq, buffer, pending = data[:5]
    last_stamp = data[5] if len(data) > 5 else None
    emitted_starts = data[6] if len(data) > 6 else None
    engine.pos = pos
    engine.runs = [
        (k, _Cfg(state, env, caps, first))
        for k, (state, env, caps, *_, first) in runs
    ]
    return match_seq, buffer, pending, last_stamp, emitted_starts


# -- per key ----------------------------------------------------------------


@dataclass
class KeyedPlan:
    """What every key of one CEP operator shares, built once at plan
    time and shipped inside the task closure.  ``incremental`` is the
    stream: SQL selection is then the emitted-start dedup instead of the
    batch's per-start fold plus :meth:`KeyMatcher.finish`.  ``schema``,
    the projected input's (``keys`` then ``attr_cols``), fixes the
    per-key order (:func:`order_cols`) and the output schema
    (``out_schema``).  Every plan-time rule of the operators is checked
    here, once, so it holds on every physical path: ``on_limit``, SQL
    selection (:func:`_check_sql`; anchors need ``sql_skip``), the
    stream's keys and SQL rails, and the reserved :data:`POS` name.

    Every row gets a type here, before the engine sees it.  With a
    ``type_col``, a NULL type is :data:`UNTYPED`, which ``query`` (the
    extended query every path reads, fast path included) declares last
    with no step naming it: relaxed links skip such a row and strict
    links break on it, as the fast path's SQL tests, NULL for it,
    already do.  Without one, every row is the pattern's sole declared
    type, and a pattern that declares several raises ``ValueError``."""

    query: Query
    order_by: str
    type_col: str | None
    attr_cols: list
    keys: Sequence[str] = ()
    within: object = None
    within_col: str | None = None
    max_active_runs: int = 100_000
    on_limit: str = "raise"
    sql_skip: tuple | None = None
    sql_prefer: str = "longest"
    anchor_start: bool = False
    anchor_end: bool = False
    incremental: bool = False
    schema: InitVar[object] = None

    def __post_init__(self, schema):
        self._check()
        declared = list(self.query.schema)
        if self.type_col is None:
            if len(declared) != 1:
                raise ValueError(
                    "type_col=None makes every row the pattern's sole event "
                    f"type, but it declares {declared}: pass the type column"
                )
            self.sole_type = declared[0]
        else:
            # Appended last, the extra type adds edges only: state ids,
            # and so stream checkpoints, stay as they were.
            context = {**self.query.context, "schema": {**self.query.schema, UNTYPED: []}}
            self.query = Query(self.query.patseq, context)
        self.automaton = compile_query(self.query)
        self.order_cols = order_cols(self.order_by, self.type_col, self.attr_cols, schema)
        self.order_key = order_key(self.order_cols)
        self.names = list(self.query.names)
        self.stamp_col = self.within_col or self.order_by
        # Run pruning (runtime.feed) assumes stamps are non-decreasing
        # in feed order; with a decoupled stamp column that is a DATA
        # property the plan cannot guarantee, so it is checked per key.
        self.check_stamps = self.within_col is not None and self.within is not None
        self.out_schema = None if schema is None else self._out_schema(schema)

    def _check(self) -> None:
        if self.on_limit not in ("raise", "truncate"):
            raise ValueError(f"on_limit must be 'raise' or 'truncate', got {self.on_limit!r}")
        if self.incremental and not self.keys:
            raise ValueError("streaming CEP requires partition_by (keyed state)")
        if self.sql_skip is not None:
            _check_sql(self.query, self.sql_skip, self.sql_prefer)
            if self.incremental:
                self._check_stream_sql()
        elif self.anchor_start or self.anchor_end:
            raise ValueError(
                "anchor_start/anchor_end are part of the SQL selection "
                "surface (MATCH_RECOGNIZE ^/$) — pass sql_skip too"
            )
        if POS in (*self.keys, *self.attr_cols):
            raise ValueError(f"input column {POS!r}: the name is reserved for the kernel")

    def _check_stream_sql(self) -> None:
        """The stream emits each start's first-completing candidate the
        moment it completes, which is SQL's selection only for TO NEXT
        ROW with reluctant quantifiers and at most one flexible variable
        (:func:`flexible_vars`)."""
        if self.sql_skip[0] != "to_next" or self.sql_prefer != "shortest":
            raise ValueError(
                "streaming SQL match selection supports AFTER MATCH SKIP "
                "TO NEXT ROW with reluctant quantifiers only: greedy "
                "preference or ordered skip modes need match finalization "
                f"an unbounded stream cannot provide (got {self.sql_skip[0]!r} / "
                f"{self.sql_prefer!r}); run those through the batch kernel."
            )
        flexible = flexible_vars(self.query.patseq)
        if len(flexible) > 1:
            raise ValueError(
                "streaming SQL match selection supports at most one "
                f"flexibly-quantified variable (got {flexible}): the stream "
                "emits a start's first-completing candidate, which is the "
                "lexicographic-min preference only when one variable's "
                "length varies; run those through the batch kernel."
            )

    def _out_schema(self, schema):
        """``keys… | match_seq | start_ord | end_ord | <name>:
        ARRAY<STRUCT<event>>…``."""
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        ord_type = schema[self.order_by].dataType
        event = StructType([schema[c] for c in self.attr_cols])
        return StructType(
            [schema[k] for k in self.keys]
            + [
                StructField("match_seq", LongType(), False),
                StructField("start_ord", ord_type, True),
                StructField("end_ord", ord_type, True),
            ]
            + [StructField(n, ArrayType(event), True) for n in self.names]
        )

    def inert_filter(self, schema, *, idle_timeout_ms=None, event_time_col=None):
        """The row filter both operators apply right after their
        projection, below the shuffle: drop the rows of the pattern's
        inert event types (:meth:`Automaton.inert_types`), which no
        run reacts to.  Undeclared types end relaxed runs, so they are
        kept.  A NULL type is :data:`UNTYPED`, which no step takes: it
        is inert whenever any type is, and ``NOT type IN (…)``, NULL for
        the row, drops it.  Under ``within``, a row with a NULL or NaN
        stamp is kept: it prunes every run it meets (its comparisons
        are false).  ``schema`` is the
        projected input's; the two stream-only options disable the
        filter (see below).  None where no row may be dropped:

        * no ``type_col`` (every row is the sole declared type);
        * ``sql_skip``: SQL anchors and skip arithmetic read row positions;
        * ``within`` with ``within_col``: every row's stamp is checked;
        * ``within`` over a stamp column that is not integral or
          floating — the engine stamps a None with the row's position,
          which dropped rows shift;
        * ``idle_timeout_ms``: an inert row refreshes its key's timeout;
        * ``event_time_col``: any row of a key in a micro-batch makes the
          call that releases the key's parked rows.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType, FloatType, IntegralType

        if (
            self.type_col is None or self.sql_skip is not None
            or idle_timeout_ms or event_time_col is not None
        ):
            return None
        stamp_type = schema[self.stamp_col].dataType
        if self.within is not None and (
            self.within_col is not None
            or not isinstance(stamp_type, (IntegralType, FloatType, DoubleType))
        ):
            return None
        inert = self.automaton.inert_types(self.query.schema.keys())
        if not inert:
            return None
        t = F.col(self.type_col)
        keep = ~t.isin(sorted(inert))
        if self.within is not None:
            stamp = F.col(self.stamp_col)
            keep = keep | stamp.isNull()
            if not isinstance(stamp_type, IntegralType):
                keep = keep | F.isnan(stamp)
        return keep

    def events(self, pdf: pd.DataFrame, ordered: bool = False) -> list[tuple]:
        """Rows as ``(event_type, record)`` in the per-key order — the
        input :meth:`KeyMatcher.feed` takes.  ``ordered``: ``pdf`` is
        already in that order (the batch kernel's input is sorted by
        Spark), so it is not sorted again.  The sort is stable: rows
        equal in every order column keep their input order.  A NULL type
        is :data:`UNTYPED`; the record keeps its NULL."""
        recs = records(pdf, self.attr_cols)
        if not ordered:
            recs.sort(key=self.order_key)
        t = self.type_col
        if t is None:
            return [(self.sole_type, r) for r in recs]
        return [(UNTYPED if r[t] is None else r[t], r) for r in recs]


class KeyMatcher:
    """One key's matching state: the NFA plus everything around it.
    ``last_pos`` (the key's last position, known up front in batch) is
    for the SQL ``$`` anchor, which must filter BEFORE the per-start
    fold — filtering after it would keep a non-anchored winner."""

    def __init__(self, plan: KeyedPlan, key_values: dict, last_pos: int | None = None):
        self.plan = plan
        self.key_values = key_values
        self.last_pos = last_pos
        self.engine = MatchEngine(plan.automaton, plan.query.strategy, plan.within)
        self.buffer: dict = {}  # position -> record, for capture output
        self.match_seq = 0
        self.last_stamp = None
        self.emitted_starts: set = set()  # stream SQL: starts already emitted
        # batch SQL: start -> ((min_pos, max_pos, captures), lens key);
        # one candidate per start, not the O(starts²) NoSkip emission
        self.best_by_start: dict = {}
        self.truncated = False

    @classmethod
    def from_blob(cls, plan: KeyedPlan, key_values: dict, blob: bytes):
        """Restore a key saved by :meth:`to_blob`; returns the matcher
        and the stream's parked (not yet released) rows."""
        m = cls(plan, key_values)
        m.match_seq, m.buffer, pending, m.last_stamp, starts = _load_engine(
            blob, m.engine
        )
        m.emitted_starts = starts or set()
        return m, pending

    def to_blob(self, pending: list) -> bytes:
        """Prune to what live runs can still reference, then encode.
        Every capture position of a run is >= its start offset, and a
        start below every live run's can gain no further candidate."""
        engine = self.engine
        frontier = min(k for k, _ in engine.runs) if engine.runs else engine.pos
        self.buffer = {p: r for p, r in self.buffer.items() if p >= frontier}
        sql = self.plan.sql_skip is not None
        if sql:
            self.emitted_starts = {s for s in self.emitted_starts if s >= frontier}
        return _save_engine(
            engine, self.match_seq, self.buffer, pending, self.last_stamp,
            self.emitted_starts if sql else None,
        )

    def feed(self, events) -> list[dict]:
        """Feed ``(event_type, record)`` pairs in order; returns the rows
        emitted on the way (none under batch SQL selection, which waits
        for :meth:`finish`)."""
        plan = self.plan
        if self.truncated:
            return []
        if plan.check_stamps:
            self._check_stamps(events)
        engine = self.engine
        buffer = self.buffer
        stamp_col = plan.stamp_col
        limit = plan.max_active_runs
        rows: list = []
        for ev_type, rec in events:
            buffer[engine.pos] = rec
            for m in engine.feed(ev_type, rec, rec[stamp_col]):
                self._on_match(m.captures, rows)
            if len(engine.runs) > limit:
                if plan.on_limit == "raise":
                    raise MatchLimitExceeded(
                        f"live run-set exceeded {limit} for key "
                        f"{self.key_values!r}; pattern is likely nd-relaxed "
                        "over a hot key — add a stricter condition or raise "
                        "the limit"
                    )
                # on_limit="truncate": keep what matched, skip the rest
                # of the key, flag it with a sentinel row in finish()
                self.truncated = True
                break
        return rows

    def finish(self) -> list[dict]:
        """End of the key's input (batch): the SQL-selected rows, then
        the truncate sentinel (``match_seq = -1``, null bounds and
        captures) if the key hit ``max_active_runs``."""
        plan = self.plan
        rows = []
        if plan.sql_skip is not None and not plan.incremental:
            chosen = _sql_select(self.best_by_start, plan.sql_skip)
            rows = [self._row(captured, mn, mx) for mn, mx, captured in chosen]
        if self.truncated:
            rows.append(self._row({}, seq=-1))
        return rows

    def _check_stamps(self, events) -> None:
        col = self.plan.stamp_col
        order_by = self.plan.order_by
        last = self.last_stamp
        for _t, rec in events:
            st = rec[col]
            if st is None or st != st:
                raise ValueError(
                    f"within_col {col!r} has a NULL stamp at "
                    f"{order_by}={rec[order_by]!r} for key {self.key_values!r} "
                    "— the within bound needs a stamp on every event"
                )
            if last is not None and st < last:
                raise ValueError(
                    f"within_col {col!r} regresses at "
                    f"{order_by}={rec[order_by]!r} for key {self.key_values!r} "
                    f"— stamps must be non-decreasing in {order_by} order "
                    "(run pruning assumes monotone stamps); order by the "
                    "stamp column or fix the stamp derivation"
                )
            last = st
        self.last_stamp = last

    def _on_match(self, captured: dict, rows: list) -> None:
        plan = self.plan
        all_pos = [p for idxs in captured.values() for p in idxs]
        if plan.sql_skip is None:
            rows.append(self._row(
                captured, min(all_pos, default=None), max(all_pos, default=None)
            ))
            return
        if not all_pos:
            return  # empty match: nothing to anchor to
        mn, mx = min(all_pos), max(all_pos)
        if plan.incremental:
            # (shortest, to_next), the stream's one selection: a start's
            # candidates arrive in (end, emission) order, so the FIRST
            # one is the reluctant winner and later ones are dropped;
            # every start is eligible under TO NEXT ROW.
            if mn not in self.emitted_starts:
                self.emitted_starts.add(mn)
                rows.append(self._row(captured, mn, mx))
            return
        # SQL anchors (^/$): a candidate not pinned to the partition
        # edge is discarded BEFORE the per-start fold, so selection
        # ranks anchored candidates only.
        if (plan.anchor_start and mn != 0) or (plan.anchor_end and mx != self.last_pos):
            return
        # SQL:2016 lexicographic preference: per-variable capture
        # lengths in PATTERN order, maximized for greedy, minimized for
        # reluctant — for the front end's flat concatenation patterns
        # exactly the standard's leftmost-quantifier-first preferment.
        # Equal keys are identical row assignments (contiguous rows,
        # _validate_sql_pattern); the first emitted wins a tie.
        key = tuple(len(captured.get(n) or ()) for n in plan.names)
        cur = self.best_by_start.get(mn)
        if cur is None or (
            key > cur[1] if plan.sql_prefer == "longest" else key < cur[1]
        ):
            self.best_by_start[mn] = ((mn, mx, captured), key)

    def _row(self, captured: dict, mn=None, mx=None, seq=None) -> dict:
        if seq is None:
            seq = self.match_seq
            self.match_seq += 1
        buffer = self.buffer
        order_by = self.plan.order_by
        row = dict(self.key_values)
        row["match_seq"] = seq
        row["start_ord"] = buffer[mn][order_by] if mn is not None else None
        row["end_ord"] = buffer[mx][order_by] if mx is not None else None
        for name in self.plan.names:
            idxs = captured.get(name)
            row[name] = [buffer[i] for i in idxs] if idxs is not None else None
        return row
