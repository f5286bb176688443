"""Output checks: reference match sets and an order-insensitive compare.

A match is reduced to ``(key, start_ord, end_ord, captures)`` where
``captures`` holds one tuple of captured ``event_id``s per pattern name
(``None`` when the name captured nothing).  ``match_seq`` is left out:
the stream numbers matches in completion order, the batch kernel and
the fast path by their own rules, and only the set of matches is the
contract.

The reference for the kernel and the stream is a single-threaded
``MatchEngine`` replay of each key's events; for the fast-path funnel
it is DuckDB running the repository's ``SQL_FUNNEL_3STEP``.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from reflinkcep_spark.cep.runtime import MatchEngine

ATTR_COLS = ("event_id", "event_type", "value")


def canonical(key, start, end, captures) -> tuple:
    return (
        int(key),
        int(start),
        int(end),
        tuple(None if c is None else tuple(int(i) for i in c) for c in captures),
    )


def digest(matches) -> str:
    """sha256 over the sorted canonical matches: equal for any row order."""
    h = hashlib.sha256()
    for m in sorted(matches, key=repr):
        h.update(repr(m).encode())
    return h.hexdigest()


def spark_matches(out, names) -> list[tuple]:
    """Collect a match DataFrame as canonical tuples (outside any timed
    region)."""
    from pyspark.sql import functions as F

    pdf = out.select(
        "user_id", "start_ord", "end_ord",
        *[F.transform(n, lambda e: e["event_id"]).alias(n) for n in names],
    ).toPandas()
    cols = [pdf[c].tolist() for c in ("user_id", "start_ord", "end_ord", *names)]
    return [
        canonical(k, s, e, [None if c is None else list(c) for c in caps])
        for k, s, e, *caps in zip(*cols)
    ]


@dataclass
class Replay:
    """The reference match set plus the single-core NFA's counters."""

    matches: list = field(default_factory=list)
    keys: int = 0
    events: int = 0
    feed_s: float = 0.0
    peak_live_runs: int = 0
    live_run_sum: int = 0

    @property
    def events_per_s(self) -> float:
        return self.events / self.feed_s

    @property
    def mean_live_runs(self) -> float:
        return self.live_run_sum / self.events


def key_streams(df: pd.DataFrame):
    """Yield ``(key, types, records)`` per key, rows in ``event_id`` order."""
    order = np.lexsort((df["event_id"].to_numpy(), df["user_id"].to_numpy()))
    d = df.iloc[order]
    users = d["user_id"].to_numpy()
    cuts = np.flatnonzero(users[1:] != users[:-1]) + 1
    bounds = [0, *cuts.tolist(), len(d)]
    cols = {c: d[c].tolist() for c in ATTR_COLS}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        recs = [
            dict(zip(ATTR_COLS, row))
            for row in zip(*(cols[c][lo:hi] for c in ATTR_COLS))
        ]
        yield int(users[lo]), cols["event_type"][lo:hi], recs


def replay(df: pd.DataFrame, automaton, strategy, names, within) -> Replay:
    """Feed every key's events through one ``MatchEngine`` per key, on
    this thread.  ``feed_s`` times the feed loop only."""
    r = Replay()
    for key, types, recs in key_streams(df):
        engine = MatchEngine(automaton, strategy, within)
        found = []
        t0 = time.perf_counter()
        for ev_type, rec in zip(types, recs):
            found.extend(engine.feed(ev_type, rec, rec["event_id"]))
            live = len(engine.runs)
            r.live_run_sum += live
            if live > r.peak_live_runs:
                r.peak_live_runs = live
        r.feed_s += time.perf_counter() - t0
        r.keys += 1
        r.events += len(recs)
        for m in found:
            pos = [p for idxs in m.captures.values() for p in idxs]
            caps = [m.captures.get(n) for n in names]
            r.matches.append(
                canonical(
                    key,
                    recs[min(pos)]["event_id"],
                    recs[max(pos)]["event_id"],
                    [None if c is None else [recs[i]["event_id"] for i in c] for c in caps],
                )
            )
    return r


def duckdb_funnel(parquet_path: str) -> list[tuple]:
    """The 3-step funnel's match set from DuckDB (the repository's
    ``SQL_FUNNEL_3STEP`` over the benchmark's event log)."""
    import duckdb

    from reflinkcep_spark.queries.cep_queries import SQL_FUNNEL_3STEP

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{parquet_path}')"
        )
        rows = con.execute(SQL_FUNNEL_3STEP).fetchall()
    finally:
        con.close()
    return [canonical(u, s, e, [[s], [b], [e]]) for u, s, b, e in rows]


def mismatched_keys(expected, got) -> set:
    """Keys whose match multisets differ between ``expected`` and ``got``."""
    diff = Counter(expected)
    diff.subtract(Counter(got))
    return {m[0] for m, n in diff.items() if n}


def error_count(expected, got, keys: int) -> tuple[int, int]:
    """``(attempted, failed)``: one operation per key of the input; a
    key fails when its match set differs from the reference."""
    return keys, len(mismatched_keys(expected, got))
