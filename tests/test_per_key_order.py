"""One per-key row order on every CEP path (``cep.keyed.order_cols``).

Stamps tie on ordinary logs.  The rule orders tied rows by the type
column and then by every other atomic column, so the three fast-path
planners, the batch kernel, the stream kernel and MATCH_RECOGNIZE's
PREV window give the same rows, ``match_seq`` included, in every input
layout.  The oracle is a ``KeyMatcher`` replay over the rule-sorted
rows.  The last test pins the rule's Python form against a JVM sort.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random

import pandas as pd
import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.cep.keyed import (
    KeyedPlan, KeyMatcher, order_cols, order_key, sort_exprs,
)
from reflinkcep_spark.cep.match_recognize import match_recognize, translate
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML
from reflinkcep_spark.streaming import match_pattern_stream
from tests.conftest import drain_stream
from tests.test_inert_filter import SPEND_YAML
from tests.test_window_frames import _plan

ATTRS = ["event_id", "stamp", "event_type", "value"]
COLS = ["user_id", *ATTRS]
DDL = "user_id long, event_id long, stamp long, event_type string, value double"
SCHEMA = "schema: {signup: [], purchase: [], error: [], click: [], view: []}"


def _log(n=600, n_keys=6, seed=11) -> list[tuple]:
    """Keys interleaved over a global ``event_id`` clock, stamped
    ``event_id // 20``: about three rows of a key share a stamp.  Each
    key has one row with a NULL stamp."""
    rng = random.Random(seed)
    types = ["signup", "purchase", "error", "click", "view"]
    rows = [
        (rng.randrange(n_keys), i, i // 20, rng.choices(types, [2, 4, 2, 1, 1])[0],
         float(rng.randint(1, 100)))
        for i in range(n)
    ]
    return rows + [(k, n + k, None, "purchase", 90.0) for k in range(n_keys)]


LOG = _log()
LAYOUTS = {
    "repartition-7": lambda df: df.repartition(7),
    "order-by-value": lambda df: df.orderBy("value"),
    "repartition-3-value": lambda df: df.repartition(3, "value"),
}


def _chain(contiguity: str, leaves: list[tuple]) -> str:
    node = None
    for name, event, expr in leaves:
        leaf = f"{{type: spat, name: {name}, event: {event}, cndt: {{expr: '{expr}'}}}}"
        node = leaf if node is None else (
            f"{{type: combine, contiguity: {contiguity}, left: {node}, right: {leaf}}}"
        )
    return f"type: query\npatseq: {node}\ncontext:\n  {SCHEMA}\n"


STRICT_LOOP = f"""
type: query
patseq:
  type: lpat
  name: buys
  event: purchase
  cndt: {{expr: value > 20}}
  loop: {{contiguity: strict, from: 2, to: 3}}
context:
  {SCHEMA}
"""
# name -> (query, dispatched to the fast path)
SHAPES = {
    "relaxed-chain": (FUNNEL_YAML, True),
    "strict-chain": (_chain("strict", [
        ("e", "error", "True"), ("p", "purchase", "True"), ("s", "signup", "True"),
    ]), True),
    "nd-chain": (_chain("nd-relaxed", [
        ("s", "signup", "value > 60"), ("e", "error", "value > 60"),
    ]), True),
    "strict-loop": (STRICT_LOOP, True),
    "signup-spend": (SPEND_YAML, False),
}


def _digest(rows, names, seq=True) -> list:
    """Full rows: keys, ``match_seq``, bounds and every captured event."""
    def cap(cell):
        return None if cell is None else tuple(tuple(e[c] for c in ATTRS) for e in cell)

    return sorted(
        (
            (r["user_id"], r["match_seq"] if seq else None, r["start_ord"],
             r["end_ord"], tuple(cap(r[n]) for n in names))
            for r in rows
        ),
        key=repr,
    )


def _replay_rows(plan: KeyedPlan, rows, extend=None) -> list[dict]:
    """Every key's rows through ``KeyMatcher`` in the rule's order;
    ``extend(events)`` may add columns computed over that order."""
    out = []
    pdf = pd.DataFrame(rows, columns=COLS, dtype=object)
    for key, part in pdf.groupby("user_id"):
        events = plan.events(part)
        if extend is not None:
            extend(events)
        m = KeyMatcher(plan, {"user_id": key}, last_pos=len(events) - 1)
        out += m.feed(events) + m.finish()
    return out


def _replay(query, rows, seq=True) -> list:
    plan = KeyedPlan(query, order_by="stamp", type_col="event_type", attr_cols=ATTRS)
    return _digest(_replay_rows(plan, rows), query.names, seq)


@pytest.fixture(scope="module")
def log_df(spark):
    return spark.createDataFrame(LOG, DDL)


@pytest.mark.parametrize("shape", list(SHAPES))
def test_every_layout_gives_every_path_the_replay(spark, log_df, shape):
    qyaml, fast = SHAPES[shape]
    query = Query.from_yaml(qyaml)
    want = _replay(query, LOG)
    assert want
    # nd chains number a completing row's matches by rank on the fast
    # path and by run age in the kernel (fastpath module docstring)
    seq = shape != "nd-chain"
    want_fast = want if seq else _replay(query, LOG, seq=False)
    kw = dict(order_by="stamp", partition_by="user_id", type_col="event_type")
    fast_rows = []
    for layout in LAYOUTS.values():
        df = layout(log_df)
        kernel = match_pattern(df, query, allow_fastpath=False, **kw)
        assert _digest(kernel.collect(), query.names) == want
        if fast:
            out = match_pattern(df, query, **kw)
            assert "MapInPandas" not in _plan(out)
            rows = out.collect()
            assert _digest(rows, query.names, seq) == want_fast
            fast_rows.append(_digest(rows, query.names))
    assert all(d == fast_rows[0] for d in fast_rows)


def test_stream_over_three_micro_batches_gives_the_replay(spark, tmp_path):
    """Each micro-batch holds a contiguous third of every key's rows in
    rule order, shuffled: the stream sorts a batch by the rule."""
    query = Query.from_yaml(FUNNEL_YAML)
    key = order_key(["stamp", "event_type", "event_id", "value"])
    ordered = sorted(LOG, key=lambda r: key(dict(zip(COLS, r))))
    rng = random.Random(3)
    src = tmp_path / "src"
    cuts = [len(ordered) * i // 3 for i in range(4)]
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        chunk = ordered[a:b]
        rng.shuffle(chunk)
        spark.createDataFrame(chunk, DDL).coalesce(1).write.parquet(str(src / f"part{i}"))
        t = 1_700_000_000 + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    stream = (
        spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, query, order_by="stamp", partition_by="user_id", type_col="event_type",
    )
    sink = f"per_key_order_{os.getpid()}"
    drain_stream(
        out.writeStream.outputMode("append").format("memory").queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert _digest(spark.table(sink).collect(), query.names) == _replay(query, LOG)


MR_SPEC = """PARTITION BY user_id ORDER BY stamp
MEASURES FIRST(A.event_id) AS a, LAST(B.event_id) AS b, COUNT(B.*) AS nb
PATTERN (A B+)
DEFINE A AS A.event_type = 'signup', B AS PREV(value) < B.value"""


def test_match_recognize_prev_gives_the_replay_in_every_layout(spark, log_df):
    t = translate(MR_SPEC, COLS)
    nav = t["nav_columns"]
    plan = KeyedPlan(
        t["query"], order_by="stamp", type_col=None, attr_cols=ATTRS,
        sql_skip=t["skip"], sql_prefer=t["prefer"],
    )

    def add_nav(events):
        recs = [r for _t, r in events]
        for name, (kind, col, n) in nav.items():
            for i, rec in enumerate(recs):
                j = i - n if kind == "prev" else i + n
                rec[name] = recs[j][col] if 0 <= j < len(recs) else None

    want = sorted(
        (r["user_id"], r["match_seq"], r["A"][0]["event_id"], r["B"][-1]["event_id"],
         len(r["B"]))
        for r in _replay_rows(plan, LOG, add_nav)
    )
    assert want
    for layout in LAYOUTS.values():
        got = match_recognize(layout(log_df), MR_SPEC).collect()
        assert sorted(tuple(r) for r in got) == want


def test_order_key_sorts_as_spark_does(spark):
    """The rule's Python form against a JVM sort, over NULL, NaN,
    non-ASCII strings, booleans and timestamps, with ties on the first
    column; reversed, against the rule's mirror."""
    nan = float("nan")
    base = dt.datetime(2024, 1, 15, 12)
    values = {
        "o": [None, nan, -1.5, 0.0, 2.0, float("inf")],
        # UTF-16 would put the emoji (a surrogate pair) before U+FF5E
        "s": [None, "", "Z", "a", "\u00e9", "e\u0301", "\u65e5\u672c", "\uff5e", "\U0001f600"],
        "b": [None, False, True],
        "t": [None, base, base + dt.timedelta(microseconds=1)],
    }
    rng = random.Random(7)
    rows = rng.sample(list(itertools.product(*values.values())), 300)
    df = spark.createDataFrame(
        rows, "o double, s string, b boolean, t timestamp"
    ).selectExpr("*", "array(o) AS arr", "map('k', s) AS m", "o AS __mr_o")
    cols = order_cols("o", None, df.columns, df.schema)
    assert cols == ["o", "s", "b", "t"]

    def canon(seq):
        return [tuple("NaN" if v != v else v for v in r) for r in seq]

    key = order_key(cols)
    recs = [dict(zip(cols, r)) for r in rows]
    for reverse in (False, True):
        jvm = df.orderBy(*sort_exprs(cols, reverse)).select(*cols).collect()
        py = sorted(recs, key=key, reverse=reverse)
        assert canon(jvm) == canon([tuple(r[c] for c in cols) for r in py])
