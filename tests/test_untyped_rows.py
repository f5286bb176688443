"""Rows whose type column is NULL: one meaning on every CEP path.

``KeyedPlan`` gives such a row the reserved type ``UNTYPED``, which the
query declares last and no step names.  Relaxed links skip the row and
strict links break on it, which is what the fast path's SQL tests, NULL
for it, already do.  Over ``tests/test_inert_filter.py:_log()`` (about
one untyped row in 13) the fast path, the batch kernel, the stream over
3 micro-batches and a ``KeyMatcher`` replay give the same match
multiset, with no match twice; an event-time stream restarted while an
untyped row is parked releases it with that type.
"""

from __future__ import annotations

import collections
import datetime as dt
import os

import pandas as pd
import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.keyed import UNTYPED, KeyedPlan, order_key
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML
from reflinkcep_spark.streaming import match_pattern_stream
from tests.conftest import drain_stream
from tests.test_inert_filter import COLS, DDL, _digest, _log, _replay
from tests.test_per_key_order import STRICT_LOOP, _chain
from tests.test_streaming import TS_SCHEMA, _batch, _canon_caps, _restart_runs
from tests.test_window_frames import _plan

LOG = _log()
ROWS = list(LOG.astype(object).where(LOG.notna(), None).itertuples(index=False, name=None))
# name -> (query, its match count over LOG, where the untyped rows'
# former "any type" meaning gave 123, 36, 118 and 52)
SHAPES = {
    "relaxed-chain": (FUNNEL_YAML, 27),
    "strict-chain": (_chain("strict", [("s", "signup", "True"), ("p", "purchase", "True")]), 20),
    "nd-chain": (_chain("nd-relaxed", [
        ("s", "signup", "value > 60"), ("e", "error", "value > 60"),
    ]), 47),
    "strict-loop": (STRICT_LOOP, 35),
}


@pytest.fixture(scope="module")
def log_df(spark):
    return spark.createDataFrame(ROWS, DDL)


def _no_seq(digest) -> list:
    return sorted(d[:1] + d[2:] for d in digest)


def _want(shape):
    """The query and its ``KeyMatcher`` replay: the shape's count of
    matches, none twice."""
    qyaml, n = SHAPES[shape]
    query = Query.from_yaml(qyaml)
    want = sorted(_replay(query, LOG))
    assert len(want) == n and max(collections.Counter(_no_seq(want)).values()) == 1
    return query, want


def test_keyed_plan_gives_every_row_a_type():
    query = Query.from_yaml(FUNNEL_YAML)
    plan = KeyedPlan(query, order_by="event_id", type_col="event_type", attr_cols=COLS[1:])
    assert list(plan.query.schema) == [*query.schema, UNTYPED]
    assert plan.automaton.n_states() == compile_query(query).n_states()
    assert all(None not in by_type for by_type, _wild in plan.automaton.steps)
    events = plan.events(pd.DataFrame(ROWS, columns=COLS, dtype=object))
    assert UNTYPED in {t for t, _r in events} and None not in {t for t, _r in events}
    assert all((t == UNTYPED) == (r["event_type"] is None) for t, r in events)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_fast_path_and_kernel_give_the_replay(log_df, shape):
    query, want = _want(shape)
    kw = dict(order_by="event_id", partition_by="user_id", type_col="event_type")
    kernel = match_pattern(log_df, query, allow_fastpath=False, **kw)
    assert sorted(_digest(kernel.collect(), query.names)) == want
    fast = match_pattern(log_df, query, **kw)
    assert "MapInPandas" not in _plan(fast)
    got = sorted(_digest(fast.collect(), query.names))
    # nd chains number a completing row's matches by rank on the fast
    # path and by run age in the kernel (fastpath module docstring)
    assert (_no_seq(got) == _no_seq(want)) if shape == "nd-chain" else got == want


@pytest.mark.parametrize("shape", list(SHAPES))
def test_stream_over_three_micro_batches_gives_the_replay(spark, tmp_path, shape):
    """Each micro-batch holds a contiguous third of the log in the
    per-key order, so every key's rows arrive in order."""
    query, want = _want(shape)
    key = order_key(COLS[1:])
    rows = sorted(ROWS, key=lambda r: key(dict(zip(COLS, r))))
    src = tmp_path / "src"
    cuts = [len(rows) * i // 3 for i in range(4)]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        spark.createDataFrame(rows[a:b], DDL).coalesce(1).write.parquet(str(src / f"part{i}"))
        t = 1_700_000_000 + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    stream = (
        spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, query, order_by="event_id", partition_by="user_id", type_col="event_type",
    )
    sink = f"untyped_{shape.replace('-', '_')}_{os.getpid()}"
    drain_stream(
        out.writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    got = sorted(_digest(spark.table(sink).collect(), query.names))
    assert got == want


# a, then b, relaxed; f is declared and no step names it, as UNTYPED is
Q_PAIR_F = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: a, event: e, cndt: {expr: name == 1}}
  right: {type: spat, name: b, event: e, cndt: {expr: name == 9}}
context:
  schema: {e: [id, name, price], f: []}
"""


def test_event_time_restart_releases_a_parked_untyped_row(spark, tmp_path):
    """``tests/test_streaming.py::test_stream_restart_keeps_parked_events``
    with id 6 untyped: it is parked at the stop (ids 5-9 wait for the
    watermark) and released after the restart between a (id 5) and b
    (id 7).  Its parked type is UNTYPED, which the relaxed link skips,
    so (5) → 7 completes once per key, as in batch."""
    query = Query.from_yaml(Q_PAIR_F)
    base = dt.datetime(2024, 1, 1)
    names = [1, 7, 1, 9, 1, 7, 9, 1, 9, 7, 1, 9]
    rows = [
        (k, i + 1, base + dt.timedelta(seconds=30 * i), None if i + 1 == 6 else "e", n, 0)
        for k in range(2)
        for i, n in enumerate(names)
    ]
    by_id = sorted(rows, key=lambda r: r[1])
    cuts = [by_id[i : i + 6] for i in range(0, len(by_id), 6)]
    want = _canon_caps(
        _batch(spark, [r for r in rows if r[1] <= 7], query, TS_SCHEMA), ["a", "b"],
    )
    second, both = _restart_runs(
        spark, tmp_path, query, cuts, 3, schema=TS_SCHEMA, event_time_col="ts",
    )
    assert sorted(
        (r["user_id"], r["a"][0]["id"], r["b"][0]["id"]) for r in second
    ) == [(0, 5, 7), (1, 5, 7)]
    assert _canon_caps(both, ["a", "b"]) == want
