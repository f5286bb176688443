"""Batch ≡ stream through the shared per-key matcher, without Spark.

``cep/keyed.py`` is the one per-key matcher both Spark kernels drive.
Each case here runs it the two ways the kernels do:

* batch — one key's whole input fed once, then ``finish()``;
* stream — the same input in three chunks, with a ``to_blob`` /
  ``from_blob`` round trip (pruning included) between chunks;

and both must equal a plain ``MatchEngine`` replay: same rows, same
``match_seq``, same bounds and captures.  The failure paths (a
regressing ``within_col`` stamp, a hot key over ``max_active_runs``)
must fail the same way in both, and batch ``on_limit="truncate"`` keeps
the matches found before the limit plus one sentinel row.
"""

from __future__ import annotations

import base64
import pickle

import pandas as pd
import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.cep.automaton import DEAD
from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.keyed import KeyedPlan, KeyMatcher, MatchLimitExceeded
from reflinkcep_spark.cep.runtime import MatchEngine

from tests.cep_cases import GOLDEN_CASES
from tests.corpus import DIVISIONS, SCHEMA, STRATEGIES, STREAMS, iter_division

KEY = {"user_id": 7}
COLS = ["id", "type", "name", "price"]
CORPUS_STRIDE = 37


def _frame(stream) -> pd.DataFrame:
    return pd.DataFrame(
        [{"id": a["id"], "type": t, "name": a["name"], "price": a["price"]}
         for t, a in stream],
        columns=COLS,
    )


def _plan(query, incremental, **kw) -> KeyedPlan:
    return KeyedPlan(
        query, order_by="id", type_col="type", attr_cols=COLS, keys=list(KEY),
        incremental=incremental, **kw,
    )


def _digest(rows, names):
    return [
        (
            r["match_seq"], r["start_ord"], r["end_ord"],
            tuple(
                None if r[n] is None else tuple(e["id"] for e in r[n])
                for n in names
            ),
        )
        for r in rows
    ]


def _batch(plan, pdf):
    events = plan.events(pdf)
    m = KeyMatcher(plan, KEY, last_pos=len(events) - 1)
    return m.feed(events) + m.finish()


def _stream(plan, pdf, n_chunks=3):
    ordered = pdf.sort_values("id")
    cuts = [len(ordered) * i // n_chunks for i in range(n_chunks + 1)]
    rows, blob = [], None
    for a, b in zip(cuts, cuts[1:]):
        if blob is None:
            m = KeyMatcher(plan, KEY)
        else:
            m, pending = KeyMatcher.from_blob(plan, KEY, blob)
            assert pending == []
        # reversed: the matcher's input is sorted per chunk, as in step()
        rows += m.feed(plan.events(ordered.iloc[a:b].iloc[::-1]))
        blob = m.to_blob([])
    return rows


def _replay(query, pdf):
    """The oracle: a bare engine over the key's rows in id order."""
    recs = pdf.sort_values("id").to_dict("records")
    engine = MatchEngine(compile_query(query), query.strategy)
    out = []
    for rec in recs:
        for m in engine.feed(rec["type"], rec):
            pos = [p for ps in m.captures.values() for p in ps]
            out.append((
                len(out),
                recs[min(pos)]["id"] if pos else None,
                recs[max(pos)]["id"] if pos else None,
                tuple(
                    None if n not in m.captures
                    else tuple(recs[p]["id"] for p in m.captures[n])
                    for n in query.names
                ),
            ))
    return out


def _assert_batch_eq_stream_eq_replay(query, pdf):
    want = _replay(query, pdf)
    names = list(query.names)
    assert _digest(_batch(_plan(query, False), pdf), names) == want
    assert _digest(_stream(_plan(query, True), pdf), names) == want


@pytest.mark.parametrize(
    "name,qyaml,stream", [c[:3] for c in GOLDEN_CASES],
    ids=[c[0] for c in GOLDEN_CASES],
)
def test_golden_batch_equals_stream(name, qyaml, stream):
    events = [("e", {"id": i + 1, "name": n, "price": p})
              for i, (n, p) in enumerate(stream)]
    _assert_batch_eq_stream_eq_replay(Query.from_yaml(qyaml), _frame(events))


def _corpus_cases():
    i = 0
    for div in DIVISIONS:
        for cid, pat in iter_division(div):
            for strategy in STRATEGIES:
                for sname in STREAMS:
                    if i % CORPUS_STRIDE == 0:
                        yield div, f"{cid}/{strategy}/{sname}", pat, strategy, sname
                    i += 1


@pytest.mark.parametrize("div", DIVISIONS)
def test_corpus_batch_equals_stream(div):
    n = 0
    for _div, cid, pat, strategy, sname in _corpus_cases():
        if _div != div:
            continue
        q = Query.from_dict(
            {"patseq": pat, "context": {"schema": SCHEMA, "strategy": strategy}}
        )
        try:
            _assert_batch_eq_stream_eq_replay(q, _frame(STREAMS[sname]))
        except AssertionError as e:
            raise AssertionError(cid) from e
        n += 1
    assert n >= 3


Q_PAIR = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:  {type: spat, name: a, event: e, cndt: {expr: price > 0}}
  right: {type: spat, name: b, event: e, cndt: {expr: price > 0}}
context:
  schema: {e: [id, name, price]}
"""


def test_stamp_regression_across_chunks_raises_in_both_modes():
    # "name" is the stamp: monotone inside each stream chunk, but the
    # second chunk starts below the first one's last stamp
    events = [("e", {"id": i + 1, "name": s, "price": 1})
              for i, s in enumerate([10, 20, 15, 30, 40, 50])]
    pdf = _frame(events)
    q = Query.from_yaml(Q_PAIR)
    kw = dict(within=1_000, within_col="name")
    with pytest.raises(ValueError, match="regresses"):
        _batch(_plan(q, False, **kw), pdf)
    with pytest.raises(ValueError, match="regresses"):
        _stream(_plan(q, True, **kw), pdf)
    # a per-chunk check alone would pass the stream: the blob carries it
    for a, b in ((0, 2), (2, 4), (4, 6)):
        _stream(_plan(q, True, **kw), pdf.iloc[a:b], n_chunks=1)


HOT = Query.from_dict(
    {
        "patseq": {
            "type": "lpat-inf", "name": "a", "event": "e",
            "cndt": {"expr": "True"},
            "loop": {"contiguity": "nd-relaxed", "from": 1},
        },
        "context": {"schema": {"e": ["id", "name", "price"]}, "strategy": "NoSkip"},
    }
)
HOT_EVENTS = [("e", {"id": i + 1, "name": 1, "price": 1}) for i in range(12)]


def test_hot_key_raises_in_both_modes():
    pdf = _frame(HOT_EVENTS)
    with pytest.raises(MatchLimitExceeded, match="exceeded 50"):
        _batch(_plan(HOT, False, max_active_runs=50), pdf)
    with pytest.raises(MatchLimitExceeded, match="exceeded 50"):
        _stream(_plan(HOT, True, max_active_runs=50), pdf)
    # still a RuntimeError, so existing handlers keep catching it
    assert issubclass(MatchLimitExceeded, RuntimeError)


def test_batch_truncate_keeps_prefix_plus_sentinel():
    pdf = _frame(HOT_EVENTS)
    rows = _batch(_plan(HOT, False, max_active_runs=50, on_limit="truncate"), pdf)
    got = _digest(rows, ["a"])
    assert len(got) > 1
    assert got[:-1] == _replay(HOT, pdf)[: len(got) - 1]
    assert got[-1] == (-1, None, None, (None,))


def test_engine_stores_live_runs_only():
    """A run that can never consume again is emitted if it accepts and
    not stored: HOT's every run spawns one more per event, and its
    accepting copies are not among them."""
    aut = compile_query(HOT)
    engine = MatchEngine(aut, HOT.strategy)
    live = []
    for t, attrs in HOT_EVENTS[:8]:
        engine.feed(t, attrs)
        live.append(len(engine.runs))
        assert all(aut.steps[c.state] is not DEAD for _k, c in engine.runs)
    assert live == [1, 3, 7, 15, 31, 63, 127, 255]


# ``a ∘ b`` (NoSkip) over names 1, 1, 2 | 1, 2, saved at the cut by a
# matcher whose runs carried a take flag and an ε-guard before their
# first stamp: two dead runs at the accepting state (both matches end
# on the 2) pin the three buffered rows.
Q_AB = Query.from_dict({
    "patseq": {
        "type": "combine", "contiguity": "relaxed",
        "left": {"type": "spat", "name": "a", "event": "e", "cndt": {"expr": "name == 1"}},
        "right": {"type": "spat", "name": "b", "event": "e", "cndt": {"expr": "name == 2"}},
    },
    "context": {"schema": {"e": ["id", "name", "price"]}, "strategy": "NoSkip"},
})
AB_EVENTS = [("e", {"id": i + 1, "name": n, "price": 0}) for i, n in enumerate([1, 1, 2, 1, 2])]
AB_OLD_BLOB = base64.b64decode(
    "gAWVswAAAAAAAAAoSwNdlChLAChLA32UfZQojAFhlE5LAIaUjAFilE5LAoaUdYhLCEsBdJSGlEsB"
    "KEsDaAF9lChoA05LAYaUaAVOSwKGlHWISwhLAnSUhpRlSwJ9lChLAH2UKIwCaWSUSwGMBHR5cGWU"
    "jAFllIwEbmFtZZRLAYwFcHJpY2WUSwB1SwF9lChoEEsCaBFoEmgTSwFoFEsAdUsCfZQoaBBLA2gR"
    "aBJoE0sCaBRLAHV1XZROTnSULg=="
)


def test_old_layout_blob_restores_to_the_same_matches():
    plan = _plan(Q_AB, True)
    pdf = _frame(AB_EVENTS)
    names = list(Q_AB.names)
    want = _digest(_stream(plan, pdf, n_chunks=1), names)
    assert want == _replay(Q_AB, pdf) and len(want) == 3
    pos, runs, _seq, buffer, *_ = pickle.loads(AB_OLD_BLOB)
    assert pos == 3 and len(buffer) == 3
    assert [len(r) for _k, r in runs] == [6, 6]
    assert all(plan.automaton.steps[r[0]] is DEAD for _k, r in runs)

    m, pending = KeyMatcher.from_blob(plan, KEY, AB_OLD_BLOB)
    assert pending == []
    rest = m.feed(plan.events(pdf.iloc[3:]))
    assert _digest(rest, names) == want[2:]

    # Saved now, the same cut holds no run and pins no row.
    m = KeyMatcher(plan, KEY)
    assert _digest(m.feed(plan.events(pdf.iloc[:3])), names) == want[:2]
    _pos, runs, _seq, buffer, *_ = pickle.loads(m.to_blob([]))
    assert runs == [] and buffer == {}


Q_SQL = """
type: query
patseq:
  type: combine
  contiguity: strict
  left:  {type: spat, name: a, event: e, cndt: {expr: name == 1}}
  right:
    type: lpat-inf
    name: b
    event: e
    cndt: {expr: name == 2}
    loop: {contiguity: strict, from: 1}
context:
  schema: {e: [id, name, price]}
"""


def test_sql_to_next_shortest_batch_equals_stream():
    """The stream's one SQL selection (to_next, shortest) picks the
    batch fold's winners; only ``match_seq`` differs (completion vs
    start order)."""
    names = [1, 2, 2, 1, 2, 1, 1, 2, 2, 2]
    pdf = _frame([("e", {"id": i + 1, "name": n, "price": 0})
                  for i, n in enumerate(names)])
    q = Query.from_yaml(Q_SQL)
    kw = dict(sql_skip=("to_next", None), sql_prefer="shortest")
    batch = _digest(_batch(_plan(q, False, **kw), pdf), q.names)
    stream = _digest(_stream(_plan(q, True, **kw), pdf), q.names)
    assert batch == [(0, 1, 2, ((1,), (2,))), (1, 4, 5, ((4,), (5,))),
                     (2, 7, 8, ((7,), (8,)))]
    assert sorted(d[1:] for d in stream) == [d[1:] for d in batch]


def test_two_flexible_vars_first_completing_is_not_sql_preference():
    """Why the stream refuses SQL selection over two flexibly-quantified
    variables (``flexible_vars``): at start 0 batch picks the
    lexicographic-min lens (1, 3, 1), while the stream emits the first
    candidate to complete, (3, 1, 1)."""
    from reflinkcep_spark.cep.keyed import flexible_vars
    from reflinkcep_spark.cep.match_recognize import translate

    t = translate(
        "PARTITION BY u ORDER BY e MEASURES COUNT(A.*) AS na "
        "AFTER MATCH SKIP TO NEXT ROW PATTERN (A{1,3}? B{1,3}? C) "
        "DEFINE A AS A.v <= 2, B AS B.v >= 2, C AS C.v = 9",
        ["u", "e", "v"],
    )
    q = t["query"]
    assert flexible_vars(q.patseq) == ["A", "B"]
    pdf = pd.DataFrame({"e": range(5), "v": [1, 2, 2, 2, 9]})

    kw = dict(
        order_by="e", type_col=None, attr_cols=["e", "v"], keys=["u"],
        sql_skip=t["skip"], sql_prefer=t["prefer"],
    )
    with pytest.raises(ValueError, match="at most one flexibly-quantified"):
        KeyedPlan(q, incremental=True, **kw)

    def lens_at_start_0(incremental):
        plan = KeyedPlan(q, **kw)
        # what the stream would emit if the plan let it run
        plan.incremental = incremental
        row = next(r for r in _batch(plan, pdf) if r["start_ord"] == 0)
        return tuple(len(row[n]) for n in q.names)

    assert lens_at_start_0(False) == (1, 3, 1)
    assert lens_at_start_0(True) == (3, 1, 1)
