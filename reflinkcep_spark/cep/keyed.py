"""Per-key CEP matching shared by the batch and the stream kernel.

Both Spark kernels feed each partition key's events, in order, through
a :class:`~reflinkcep_spark.cep.runtime.MatchEngine` and turn its
matches into rows.  Everything a key needs around the NFA lives here,
once: the plan-time helpers (``attr_cols``, output schema, sole event
type, SQL checks), :class:`KeyedPlan` (what every key of one operator
shares) and :class:`KeyMatcher` (one key's engine, record buffer,
``match_seq``, stamp check, run limit, SQL selection, rows and state
blob).  The batch kernel feeds a key once and calls ``finish()``; the
stream kernel restores the matcher from the key's state blob, feeds
what the watermark released and saves it again — keyed state behind
one operator definition (Flink, VLDB'17), one query definition for
batch and incremental execution (Structured Streaming, SIGMOD'18).

No Spark import at module level, so the matcher runs without a JVM.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass
from typing import Sequence

import pandas as pd

from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.cep.runtime import MatchEngine, _Cfg

__all__ = [
    "KeyMatcher", "KeyedPlan", "MatchLimitExceeded", "check_sql", "frame",
    "output_schema", "records", "resolve_attr_cols", "sole_type",
]


class MatchLimitExceeded(RuntimeError):
    """Raised when a key's live run-set exceeds ``max_active_runs``."""


# -- pandas <-> records ---------------------------------------------------


def records(pdf: pd.DataFrame, cols: Sequence[str]) -> list[dict]:
    """``pdf[cols].to_dict("records")`` at ~1/5 the per-call cost, with
    identical value boxing (pinned in tests/test_spark_kernel.py) — the
    kernels pay it once per key."""
    columns = [pdf[c].tolist() for c in cols]
    return [dict(zip(cols, row)) for row in zip(*columns)]


def frame(
    rows: list[dict], cols: Sequence[str], empty: pd.DataFrame | None = None
) -> pd.DataFrame:
    """``pd.DataFrame(rows, columns=cols)`` without list-of-dicts
    inference: every row carries every column, so a dict-of-lists frame
    is identical (pinned in tests/test_spark_kernel.py).  ``empty`` is
    the caller's cached zero-row frame — most keys emit no match."""
    if not rows:
        return empty if empty is not None else pd.DataFrame(columns=list(cols))
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols})


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


def output_schema(schema, keys: Sequence[str], attr_cols: Sequence[str], order_by: str, names):
    """``keys… | match_seq | start_ord | end_ord | <name>:
    ARRAY<STRUCT<event>>…`` from the projected input's ``schema``."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    field_by_name = {f.name: f for f in schema.fields}
    event_struct = StructType([field_by_name[c] for c in attr_cols])
    ord_type = field_by_name[order_by].dataType
    return StructType(
        [field_by_name[k] for k in keys]
        + [
            StructField("match_seq", LongType(), False),
            StructField("start_ord", ord_type, True),
            StructField("end_ord", ord_type, True),
        ]
        + [StructField(n, ArrayType(event_struct), True) for n in names]
    )


def sole_type(query: Query, type_col: str | None) -> str | None:
    """Without a type column every row is the pattern's one declared
    type (None — any type — when it declares several)."""
    if type_col is not None:
        return None
    declared = list(query.schema.keys())
    return declared[0] if len(declared) == 1 else None


def check_sql(query: Query, sql_skip, sql_prefer: str) -> None:
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


# -- SQL selection ------------------------------------------------------------


def _capture_lens(captured, names):
    """SQL:2016 lexicographic preference key: per-variable capture
    lengths in PATTERN order.  The ONE definition — the per-start fold
    in ``KeyMatcher`` and ``_sql_select`` must rank identically."""
    return tuple(len(captured.get(n) or ()) for n in names)


def _sql_select(matches, skip, prefer, names):
    """SQL:2016 row-pattern match selection: scan candidate starts in
    row order, keep one match per eligible start — by SQL:2016's
    LEXICOGRAPHIC quantifier preference: candidates compare on the
    tuple of per-variable capture lengths in PATTERN order (``names``),
    maximized for greedy quantifiers, minimized for reluctant, which
    for the front end's flat concatenation patterns is exactly the
    standard's leftmost-quantifier-first preferment — then advance
    the next eligible start per the AFTER MATCH SKIP mode.  This is the semantic layer MATCH_RECOGNIZE adds over the
    Flink-CEP-style engine, whose own skip strategies act on EMISSION
    order (first-completing ≈ reluctant) rather than start order.

    ``matches`` is ``[(min_pos, max_pos, captures)…]`` in emission
    order — normally one per start, as ``KeyMatcher`` folds during the
    feed, but any number per start is handled.
    """
    mode, var = skip
    pick = max if prefer == "longest" else min
    by_start: dict = {}
    for m in matches:
        if m[0] is not None:
            by_start.setdefault(m[0], []).append(m)

    out = []
    min_start = 0
    for s in sorted(by_start):
        if s < min_start:
            continue
        # equal length tuples = identical row assignment (contiguous
        # rows, validated by _validate_sql_pattern); max/min are stable
        # (first emitted wins a tie), matching the KeyMatcher fold.
        chosen = pick(by_start[s], key=lambda m: _capture_lens(m[2], names))
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
    runs = [
        (k, (c.state, c.env, c.caps, c.last_take, c.eps_seen, c.first))
        for k, c in engine.runs
    ]
    return pickle.dumps(
        (engine.pos, runs, match_seq, buffer, pending, last_stamp,
         emitted_starts),
        protocol=5,
    )


def _load_engine(blob: bytes, engine: MatchEngine) -> tuple:
    data = pickle.loads(blob)
    # pre-round-14 checkpoints have no last_stamp / emitted_starts
    # elements (same migration contract as _coerce_eps below)
    pos, runs, match_seq, buffer, pending = data[:5]
    last_stamp = data[5] if len(data) > 5 else None
    emitted_starts = data[6] if len(data) > 6 else None
    engine.pos = pos
    engine.runs = [
        (k, _Cfg(state, env, caps, last_take, _coerce_eps(eps), first))
        for k, (state, env, caps, last_take, eps, first) in runs
    ]
    return match_seq, buffer, pending, last_stamp, emitted_starts


def _coerce_eps(eps) -> int:
    """Migrate pre-bitmask checkpoints: ``eps_seen`` was a tuple of
    state ids before it became an int bitmask, and a streaming job
    restored from an old checkpoint would otherwise crash on the first
    ``eps_seen & (1 << dst)``."""
    if isinstance(eps, int):
        return eps
    mask = 0
    for s in eps:
        mask |= 1 << s
    return mask


# -- per key ----------------------------------------------------------------


@dataclass
class KeyedPlan:
    """What every key of one CEP operator shares, built once at plan
    time and shipped inside the task closure.  ``incremental`` is the
    stream: SQL selection is then the emitted-start dedup instead of the
    batch's per-start fold plus :meth:`KeyMatcher.finish`."""

    query: Query
    order_by: str
    type_col: str | None
    attr_cols: list
    within: object = None
    within_col: str | None = None
    max_active_runs: int = 100_000
    on_limit: str = "raise"
    sql_skip: tuple | None = None
    sql_prefer: str = "longest"
    anchor_start: bool = False
    anchor_end: bool = False
    incremental: bool = False

    def __post_init__(self):
        self.automaton = compile_query(self.query)
        self.names = list(self.query.names)
        self.sole_type = sole_type(self.query, self.type_col)
        self.stamp_col = self.within_col or self.order_by
        # Run pruning (runtime.feed) assumes stamps are non-decreasing
        # in feed order; with a decoupled stamp column that is a DATA
        # property the plan cannot guarantee, so it is checked per key.
        self.check_stamps = self.within_col is not None and self.within is not None

    def events(self, pdf: pd.DataFrame) -> list[tuple]:
        """One key's rows as ``(event_type, record)`` in ``order_by``
        order — the input :meth:`KeyMatcher.feed` takes."""
        pdf = pdf.sort_values(self.order_by, kind="mergesort")
        recs = records(pdf, self.attr_cols)
        if self.type_col is not None:
            return list(zip(pdf[self.type_col].tolist(), recs))
        return [(self.sole_type, r) for r in recs]


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
            chosen = _sql_select(
                [c for c, _key in self.best_by_start.values()],
                plan.sql_skip, plan.sql_prefer, plan.names,
            )
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
        key = _capture_lens(captured, plan.names)
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
