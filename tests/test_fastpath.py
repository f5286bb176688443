"""Fast-path ≡ kernel: the pure-Catalyst plans must produce the same
match sets as the NFA kernel, ``match_seq`` included (order-insensitive;
match_seq excluded for nd-relaxed chains, where emission order
legitimately differs)."""

import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.cep.keyed import KeyedPlan
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.operators.fastpath import try_fast_path

Q_SPAT = """
type: query
patseq:
  type: spat
  name: a1
  event: e
  cndt: {expr: name == 1 and price < 4}
context:
  schema: {e: [id, name, price]}
"""

Q_CHAIN = """
type: query
patseq:
  type: combine
  contiguity: strict
  left:
    type: combine
    contiguity: strict
    left: {type: spat, name: a, event: e, cndt: {expr: name == 1}}
    right: {type: spat, name: b, event: e, cndt: {expr: name == 2}}
  right: {type: spat, name: c, event: e, cndt: {expr: name == 3}}
context:
  schema: {e: [id, name, price]}
"""

Q_LPAT = """
type: query
patseq:
  type: lpat
  name: al
  event: e
  cndt: {expr: name == 1 and price < 4}
  loop: {contiguity: strict, from: 2, to: 3}
context:
  schema: {e: [id, name, price]}
"""

Q_LPAT_2_4 = """
type: query
patseq:
  type: lpat
  name: al
  event: e
  cndt: {expr: name != 2}
  loop: {contiguity: strict, from: 2, to: 4}
context:
  schema: {e: [id, name, price]}
"""

Q_RELAXED = """
type: query
patseq:
  type: lpat
  name: al
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: relaxed, from: 2, to: 3}
context:
  schema: {e: [id, name, price]}
"""

STREAM = [(1, 0), (1, 5), (2, 0), (1, 2), (1, 3), (3, 1), (1, 1), (2, 2), (3, 0),
          (1, 2), (1, 0), (1, 1), (2, 1), (3, 2)]


def _df(spark, pairs, n_keys=3):
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(n_keys)
        for i, (n, p) in enumerate(pairs)
    ]
    return spark.createDataFrame(
        rows, "user_id int, id long, type string, name long, price long"
    )


def _plan(df, query, **kw):
    """The plan ``match_pattern`` builds over ``df``, which is already
    its projection: the ``user_id`` key, then the attribute columns."""
    return KeyedPlan(
        query, order_by="id", type_col="type", keys=["user_id"],
        attr_cols=df.columns[1:], schema=df.schema, **kw,
    )


def _canon(rows, names, with_seq=True):
    out = set()
    for r in rows:
        caps = tuple(
            tuple(e["id"] for e in r[n]) if r[n] is not None else None
            for n in names
        )
        out.add((r["user_id"], r["match_seq"] if with_seq else None,
                 r["start_ord"], r["end_ord"], caps))
    return out


Q_REL_PAIR = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: a, event: e, cndt: {expr: name == 1}}
  right: {type: spat, name: b, event: e, cndt: {expr: name == 3}}
context:
  schema: {e: [id, name, price]}
"""

Q_LPAT_INF = """
type: query
patseq:
  type: lpat-inf
  name: al
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: strict, from: 2}
context:
  schema: {e: [id, name, price]}
"""

Q_LPAT_INF_STN = """
type: query
patseq:
  type: lpat-inf
  name: al
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: strict, from: 2}
context:
  strategy: SkipToNext
  schema: {e: [id, name, price]}
"""


def _chain_yaml(contigs, strategy=None):
    """((a L1 b) L2 c) with per-link contiguities and conditions
    name==1 / name==2 / name==3."""
    l1, l2 = contigs
    ctx = "schema: {e: [id, name, price]}"
    if strategy:
        ctx += f"\n  strategy: {strategy}"
    return f"""
type: query
patseq:
  type: combine
  contiguity: {l2}
  left:
    type: combine
    contiguity: {l1}
    left: {{type: spat, name: a, event: e, cndt: {{expr: name == 1}}}}
    right: {{type: spat, name: b, event: e, cndt: {{expr: name == 2}}}}
  right: {{type: spat, name: c, event: e, cndt: {{expr: name == 3}}}}
context:
  {ctx}
"""


@pytest.mark.parametrize(
    "qyaml,names,with_seq",
    [(Q_SPAT, ["a1"], True), (Q_CHAIN, ["a", "b", "c"], True),
     (Q_LPAT, ["al"], True), (Q_LPAT_2_4, ["al"], True),
     (Q_REL_PAIR, ["a", "b"], True),
     (_chain_yaml(["relaxed", "relaxed"]), ["a", "b", "c"], True),
     (_chain_yaml(["strict", "relaxed"]), ["a", "b", "c"], True),
     (_chain_yaml(["relaxed", "strict"]), ["a", "b", "c"], True),
     (_chain_yaml(["relaxed", "relaxed"], "SkipToNext"), ["a", "b", "c"], True),
     (_chain_yaml(["nd-relaxed", "nd-relaxed"]), ["a", "b", "c"], False),
     (Q_LPAT_INF, ["al"], True),
     (Q_LPAT_INF_STN, ["al"], True)],
    ids=["spat", "chain3", "strict-lpat", "strict-lpat-2-4", "relaxed-pair",
         "relaxed3", "strict-relaxed", "relaxed-strict", "relaxed3-skiptonext",
         "ndrelaxed3", "strict-lpat-inf", "strict-lpat-inf-skiptonext"],
)
def test_fastpath_equals_kernel(spark, qyaml, names, with_seq):
    query = Query.from_yaml(qyaml)
    df = _df(spark, STREAM)
    fast = try_fast_path(df, _plan(df, query))
    assert fast is not None, "expected a fast path for this pattern"
    slow = match_pattern(
        df, query, order_by="id", partition_by="user_id", type_col="type",
        allow_fastpath=False,
    )
    assert fast.columns == slow.columns
    assert _canon(fast.collect(), names, with_seq) == _canon(
        slow.collect(), names, with_seq
    )
    assert len(fast.collect()) > 0


def _strict3_yaml(strategy):
    """a · b · c, each ``name == 1``."""
    return _chain_yaml(["strict", "strict"], strategy).replace(
        "name == 2", "name == 1").replace("name == 3", "name == 1")


@pytest.mark.parametrize(
    "strategy", ["SkipToFirst:c", "SkipToLast:c", "SkipToLast:b", "SkipPastLastEvent"]
)
def test_strict_chain_cross_start_skip_equals_kernel(spark, strategy):
    """A skip strategy whose target event comes after the second leaf
    prunes runs that started inside the previous match: over five
    qualifying rows under ``SkipToLast:c`` the kernel gives (1,3),(3,5)
    but not (2,4).  Such chains must run in the kernel."""
    df = spark.createDataFrame(
        [(0, i, "e", 1, 0) for i in range(1, 6)],
        "user_id int, id long, type string, name long, price long",
    )
    query = Query.from_yaml(_strict3_yaml(strategy))
    kw = dict(order_by="id", partition_by="user_id", type_col="type")
    slow = match_pattern(df, query, allow_fastpath=False, **kw).collect()
    fast = match_pattern(df, query, allow_fastpath=True, **kw).collect()
    assert len(fast) == len(slow) > 0
    assert _canon(fast, ["a", "b", "c"]) == _canon(slow, ["a", "b", "c"])


def test_relaxed_pair_undeclared_type_kills_run(spark):
    """An event of a type NOT in the declared schema cannot be skipped
    by relaxed contiguity (ignore edges are enumerated from the schema,
    reference compile.py:414-453) — the fast path must replicate the
    kernel's run death, not skip over it."""
    rows = [
        (0, 1, "e", 1, 0),  # a-match
        (0, 2, "x", 9, 9),  # undeclared type: kills the run
        (0, 3, "e", 3, 0),  # would-be b-match
        (0, 4, "e", 1, 0),  # a-match …
        (0, 5, "e", 2, 0),  # declared, skippable
        (0, 6, "e", 3, 0),  # … completed here
    ]
    df = spark.createDataFrame(
        rows, "user_id int, id long, type string, name long, price long"
    )
    query = Query.from_yaml(Q_REL_PAIR)
    fast = try_fast_path(df, _plan(df, query))
    assert fast is not None
    slow = match_pattern(
        df, query, order_by="id", partition_by="user_id", type_col="type",
        allow_fastpath=False,
    )
    want = _canon(slow.collect(), ["a", "b"])
    assert _canon(fast.collect(), ["a", "b"]) == want
    assert {(r["start_ord"], r["end_ord"]) for r in fast.collect()} == {(4, 6)}


def test_fastpath_declines_relaxed(spark):
    query = Query.from_yaml(Q_RELAXED)
    df = _df(spark, STREAM, n_keys=1)
    fast = try_fast_path(df, _plan(df, query))
    assert fast is None


REPEATED_LEAF = Q_CHAIN.replace("name: b,", "name: a,")


@pytest.mark.parametrize(
    "qyaml,kw",
    [(Q_CHAIN, dict(sql_skip=("past_last", None))),
     (Q_CHAIN, dict(within=5, within_col="price")),
     (REPEATED_LEAF, {}),
     (_chain_yaml(["nd-relaxed", "nd-relaxed"], "SkipToNext"), {}),
     (_chain_yaml(["strict", "nd-relaxed"]), {})],
    ids=["sql-skip", "within-col", "repeated-leaf",
         "nd-skiptonext", "strict-nd-mix"],
)
def test_fast_path_refusals(spark, qyaml, kw):
    """Each dispatch rule refuses on its own: without ``kw`` the SQL and
    ``within`` cases plan, and the other shapes plan under another
    strategy or contiguity (``test_fastpath_equals_kernel``)."""
    df = _df(spark, STREAM)
    query = Query.from_yaml(qyaml)
    assert try_fast_path(df, _plan(df, query, **kw)) is None
    if kw:
        assert try_fast_path(df, _plan(df, query)) is not None


@pytest.mark.parametrize("allow_fastpath", [True, False])
def test_reserved_position_column_is_refused_on_every_path(spark, allow_fastpath):
    """The kernel numbers each key's rows in ``__cep_pos``; an input
    column of that name is refused by the fast path as by the kernel."""
    df = _df(spark, STREAM).withColumnRenamed("price", "__cep_pos")
    with pytest.raises(ValueError, match="__cep_pos"):
        match_pattern(
            df, Query.from_yaml(Q_SPAT.replace(" and price < 4", "")),
            order_by="id", partition_by="user_id", type_col="type",
            allow_fastpath=allow_fastpath,
        )


def test_fastpath_spat_plan_is_pythonless(spark):
    """The dispatched plan for a single spat must not contain the
    Python evaluator (no ArrowEvalPython or the kernel's MapInPandas)."""
    query = Query.from_yaml(Q_SPAT)
    df = _df(spark, STREAM)
    out = match_pattern(
        df, query, order_by="id", partition_by="user_id", type_col="type",
        allow_fastpath=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
    assert "Filter" in plan


def _kernel_vs_fast(df, query, **kw):
    """``(kernel rows, fast-path rows)`` for ``query`` over ``df``."""
    fast = match_pattern(df, query, allow_fastpath=True, **kw)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, "expected the fast path to be dispatched"
    slow = match_pattern(df, query, allow_fastpath=False, **kw)
    return slow.collect(), fast.collect()


Q_RUN_INF = """
type: query
patseq:
  type: lpat-inf
  name: run
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: strict, from: 1}
context:
  schema: {e: [id, name, price]}
"""


@pytest.mark.parametrize(
    "qyaml", [Q_SPAT.replace(" and price < 4", ""), Q_RUN_INF], ids=["spat", "strict-loop"]
)
def test_within_keeps_one_event_matches_on_a_null_order_value(spark, qyaml):
    """A one-event match has no span for ``within`` to bound: the kernel
    keeps one whose order value is NULL, and so must the fast path's
    span filter.  A longer match over a NULL order value is pruned on
    both paths."""
    df = spark.createDataFrame(
        [(1, 1, "e", 1, 0), (1, 2, "e", 1, 0), (2, None, "e", 1, 0),
         (3, 4, "e", 1, 0), (3, None, "e", 1, 0)],
        "user_id long, id long, type string, name long, price long",
    )
    query = Query.from_yaml(qyaml)
    slow, fast = _kernel_vs_fast(
        df, query, order_by="id", partition_by="user_id", type_col="type", within=5,
    )

    def canon(rows):
        return sorted(
            ((r["user_id"], r["start_ord"], r["end_ord"],
              sum(len(r[n]) for n in query.names)) for r in rows),
            key=repr,
        )

    assert canon(fast) == canon(slow)
    assert {(2, None, None, 1), (3, None, None, 1)} <= set(canon(slow))


def test_null_order_value_sorts_last_like_the_kernel(spark):
    """The kernel feeds a key's NULL ``order_by`` rows last; so must the
    fast path.  An error with a NULL id completes the funnel opened by
    the signup and purchase before it."""
    from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML

    df = spark.createDataFrame(
        [(1, 1, "signup", 0.0), (1, 2, "purchase", 60.0), (1, None, "error", 0.0)],
        "user_id long, event_id long, event_type string, value double",
    )
    slow, fast = _kernel_vs_fast(
        df, Query.from_yaml(FUNNEL_YAML), order_by="event_id",
        partition_by="user_id", type_col="event_type",
    )
    for rows in (slow, fast):
        assert [(r["user_id"], r["match_seq"], r["start_ord"], r["end_ord"])
                for r in rows] == [(1, 0, 1, None)]
        assert [e["event_id"] for e in rows[0]["buy"]] == [2]


LOOP_TAIL = [(1, 1), (1, 2)]
CHAIN_TAIL = [(1, 1), (2, 0), (3, 0)]


@pytest.mark.parametrize(
    "qyaml,names,with_seq,tail",
    [(Q_SPAT, ["a1"], True, LOOP_TAIL), (Q_CHAIN, ["a", "b", "c"], True, CHAIN_TAIL),
     (Q_LPAT, ["al"], True, LOOP_TAIL), (Q_REL_PAIR, ["a", "b"], True, CHAIN_TAIL),
     (_chain_yaml(["relaxed", "relaxed"]), ["a", "b", "c"], True, CHAIN_TAIL),
     (_chain_yaml(["strict", "relaxed"]), ["a", "b", "c"], True, CHAIN_TAIL),
     (_chain_yaml(["relaxed", "strict"]), ["a", "b", "c"], True, CHAIN_TAIL),
     (Q_LPAT_INF, ["al"], True, LOOP_TAIL),
     (_chain_yaml(["nd-relaxed", "nd-relaxed"]), ["a", "b", "c"], False, CHAIN_TAIL)],
    ids=["spat", "chain3", "strict-lpat", "relaxed-pair", "relaxed3",
         "strict-relaxed", "relaxed-strict", "strict-lpat-inf", "ndrelaxed3"],
)
def test_fastpath_equals_kernel_with_null_order_value(spark, qyaml, names, with_seq, tail):
    """Every fast path against the kernel when a key's last event has a
    NULL id: it is listed first in the input, sorts last (the kernel
    feeds NULL stamps last) and completes a match.  The nd-relaxed join
    cascade orders its links by rank, so it keeps the NULL row too: 48
    matches per key, 24 of them ending on it (its emission order
    differs, so ``match_seq`` is left out there)."""
    stream = STREAM + tail
    rows = [
        (k, i + 1 if i < len(stream) - 1 else None, "e", *stream[i])
        for k in range(3)
        for i in [len(stream) - 1, *range(len(stream) - 1)]
    ]
    df = spark.createDataFrame(
        rows, "user_id int, id long, type string, name long, price long"
    )
    slow, fast = _kernel_vs_fast(
        df, Query.from_yaml(qyaml), order_by="id", partition_by="user_id",
        type_col="type",
    )
    assert len(fast) == len(slow)
    assert _canon(fast, names, with_seq) == _canon(slow, names, with_seq)
    assert any(r["end_ord"] is None for r in slow)


LONG_FUNNEL = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: combine
    contiguity: {l1}
    left:
      type: combine
      contiguity: relaxed
      left: {{type: spat, name: reg, event: signup, cndt: {{expr: "True"}}}}
      right: {{type: spat, name: buy, event: purchase, cndt: {{expr: value > 50}}}}
    right: {{type: spat, name: pay, event: payment, cndt: {{expr: value > 20}}}}
  right: {{type: spat, name: err, event: error, cndt: {{expr: "True"}}}}
context:
  strategy: {strategy}
  schema: {{signup: [], purchase: [], payment: [], error: [], click: []}}
"""


def _long_keys(n_keys=3, n_events=2000, seed=7):
    """``n_keys`` keys of ``n_events`` events each; ``crash`` is not in
    LONG_FUNNEL's schema, so it kills every open run."""
    import random

    rng = random.Random(seed)
    types = ["signup", "purchase", "payment", "error", "click", "crash"]
    weights = [0.15, 0.3, 0.2, 0.12, 0.2, 0.03]
    return [
        (k, k * 10_000 + i, rng.choices(types, weights)[0], rng.randint(1, 100))
        for k in range(n_keys)
        for i in range(n_events)
    ]


def _replay_long(rows, query, within):
    """The oracle: one ``MatchEngine`` per key over its rows in id order."""
    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine

    automaton = compile_query(query)
    out = []
    for k in sorted({r[0] for r in rows}):
        recs = [{"id": i, "type": t, "value": v} for kk, i, t, v in rows if kk == k]
        engine = MatchEngine(automaton, query.strategy, within)
        for rec in recs:
            for m in engine.feed(rec["type"], rec, rec["id"]):
                caps = tuple(tuple(recs[p]["id"] for p in m.captures[n]) for n in query.names)
                out.append((k, caps[0][0], caps[-1][-1], caps))
    return sorted(out)


@pytest.mark.parametrize("within", [None, 40])
@pytest.mark.parametrize("strategy", ["NoSkip", "SkipToNext"])
@pytest.mark.parametrize("l1", ["relaxed", "strict"])
def test_relaxed_chain_long_keys_equal_replay(spark, l1, strategy, within):
    """The relaxed-chain planner on keys long enough for a quadratic
    window frame to show, against a ``MatchEngine`` replay.  ``within``
    reaches the plan through ``KeyedPlan`` and composes as the planner's
    span filter under both strategies: under SkipToNext each start
    emits at most one match."""
    query = Query.from_yaml(LONG_FUNNEL.format(l1=l1, strategy=strategy))
    rows = _long_keys()
    df = spark.createDataFrame(rows, "user_id long, id long, type string, value long")
    fast = try_fast_path(df, _plan(df, query, within=within))
    assert fast is not None
    got = sorted(
        (r["user_id"], r["start_ord"], r["end_ord"],
         tuple(tuple(e["id"] for e in r[n]) for n in query.names))
        for r in fast.collect()
    )
    want = _replay_long(rows, query, within)
    assert got == want
    assert len(want) > 50
