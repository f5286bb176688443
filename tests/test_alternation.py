"""The ``alt`` pattern node (ordered alternation, beyond-reference):
engine-level semantics, validation rails, and the kernel boundary.

The MATCH_RECOGNIZE-surface tests live in test_match_recognize.py; this
file drives the node directly through Query/run_pattern/match_pattern —
emission order (left branch first: declaration-order edge priority),
composition with sequences and loops, the shared-name rail, and the
SQL-selection restrictions (greedy only)."""

from __future__ import annotations

import pytest

from reflinkcep_spark.cep.query import Query, QueryError, ast_repr, describe
from reflinkcep_spark.cep.runtime import run_pattern


def leaf(name, ev, expr="True"):
    return {"type": "spat", "name": name, "event": ev, "cndt": {"expr": expr}}


def loop_inf(name, ev, lo=1, expr="True"):
    return {
        "type": "lpat-inf",
        "name": name,
        "event": ev,
        "cndt": {"expr": expr},
        "loop": {"contiguity": "strict", "from": lo},
    }


def alt(left, right):
    return {"type": "alt", "left": left, "right": right}


def seq(left, right, contiguity="strict"):
    return {
        "type": "combine",
        "contiguity": contiguity,
        "left": left,
        "right": right,
    }


SCHEMA = {"a": ["i"], "b": ["i"], "s": ["i"], "e": ["i"]}


def _q(patseq, strategy="NoSkip"):
    return Query(patseq, {"schema": SCHEMA, "strategy": strategy})


def _ids(matches, name):
    return [[ev["i"] for ev in m.get(name, [])] for m in matches]


def test_alt_branches_both_match():
    q = _q(alt(leaf("A", "a"), leaf("B", "b")))
    assert run_pattern(q, [("a", {"i": 0})]) == [{"A": [{"i": 0}]}]
    assert run_pattern(q, [("b", {"i": 0})]) == [{"B": [{"i": 0}]}]
    assert run_pattern(q, [("s", {"i": 0})]) == []


def test_alt_emission_order_left_first():
    """A row matching BOTH branches emits the left alternative's match
    first — declaration-order ε-edge priority."""
    q = _q(alt(leaf("A", "a"), leaf("B", "a")))
    got = run_pattern(q, [("a", {"i": 0})])
    assert got == [{"A": [{"i": 0}]}, {"B": [{"i": 0}]}]


def test_alt_in_sequence_middle():
    """S (A | B) E — the alternation fragment's multiple finals are all
    re-linked by the following combine."""
    q = _q(
        seq(leaf("S", "s"), seq(alt(leaf("A", "a"), leaf("B", "b")), leaf("E", "e")))
    )
    via_a = run_pattern(
        q, [("s", {"i": 0}), ("a", {"i": 1}), ("e", {"i": 2})]
    )
    assert via_a == [{"S": [{"i": 0}], "A": [{"i": 1}], "E": [{"i": 2}]}]
    via_b = run_pattern(
        q, [("s", {"i": 0}), ("b", {"i": 1}), ("e", {"i": 2})]
    )
    assert via_b == [{"S": [{"i": 0}], "B": [{"i": 1}], "E": [{"i": 2}]}]
    assert run_pattern(q, [("s", {"i": 0}), ("e", {"i": 1})]) == []


def test_alt_loop_branch_enumerates():
    """A | B+ — the loop branch emits its NoSkip combination set, the
    singleton branch its one match, independently."""
    q = _q(alt(leaf("A", "a"), loop_inf("B", "b")))
    got = run_pattern(q, [("b", {"i": 0}), ("b", {"i": 1})])
    assert _ids(got, "B") == [[0], [0, 1], [1]]


def test_alt_left_of_sequence():
    """(A | B) E — left-child alternation: both branches' finals merge
    the following element's output."""
    q = _q(seq(alt(leaf("A", "a"), leaf("B", "b")), leaf("E", "e")))
    got = run_pattern(q, [("b", {"i": 0}), ("e", {"i": 1})])
    assert got == [{"B": [{"i": 0}], "E": [{"i": 1}]}]


def test_alt_under_relaxed_followed_by():
    """S fby (A | B): the nested-right replay machinery derives the
    gap's skip rule from BOTH branches' first-take edges."""
    q = _q(seq(leaf("S", "s"), alt(leaf("A", "a"), leaf("B", "b")), "relaxed"))
    got = run_pattern(
        q, [("s", {"i": 0}), ("e", {"i": 1}), ("b", {"i": 2})]
    )
    assert got == [{"S": [{"i": 0}], "B": [{"i": 2}]}]


def test_alt_shared_names_rejected():
    with pytest.raises(QueryError, match="share capture names"):
        _q(alt(leaf("A", "a"), leaf("A", "b")))


def test_alt_requires_both_children():
    with pytest.raises(QueryError, match="missing key"):
        _q({"type": "alt", "left": leaf("A", "a")})


def test_alt_repr_and_describe():
    node = alt(leaf("A", "a", "i > 1"), leaf("B", "b"))
    assert ast_repr(node) == "(A:a:[i > 1]|B:b:[True])"
    assert describe(node) == "(A:a[i > 1]|B:b[True])"


def test_alt_capture_names_order():
    from reflinkcep_spark.cep.query import capture_names

    node = alt(seq(leaf("S", "s"), leaf("A", "a")), leaf("B", "b"))
    assert capture_names(node) == ["S", "A", "B"]


# --- kernel boundary ----------------------------------------------------


def test_kernel_sql_alt_greedy_prefers_left_branch(spark):
    from reflinkcep_spark.operators import match_pattern

    df = spark.createDataFrame(
        [(1, 0, "a", 1.0), (1, 1, "a", 2.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    q = _q(alt(leaf("A", "a"), loop_inf("L", "a")))
    out = match_pattern(
        df,
        q,
        order_by="event_id",
        partition_by="user_id",
        type_col="event_type",
        sql_skip=("past_last", None),
        sql_prefer="longest",
    ).collect()
    # the 1-row left branch beats the 2-row loop at each start
    got = sorted((r["match_seq"], len(r["A"] or []), len(r["L"] or [])) for r in out)
    assert got == [(0, 1, 0), (1, 1, 0)]


def test_kernel_sql_alt_rejects_shortest(spark):
    from reflinkcep_spark.operators import match_pattern

    df = spark.createDataFrame(
        [(1, 0, "a", 1.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    q = _q(alt(leaf("A", "a"), leaf("B", "b")))
    with pytest.raises(Exception, match="GREEDY"):
        match_pattern(
            df,
            q,
            order_by="event_id",
            partition_by="user_id",
            type_col="event_type",
            sql_skip=("to_next", None),
            sql_prefer="shortest",
        )


def test_alt_never_takes_fastpath(spark):
    """allow_fastpath=True with an alt pattern must fall back to the
    kernel (the planner returns None for unknown node types), not
    crash or silently mis-plan."""
    from reflinkcep_spark.cep.keyed import KeyedPlan
    from reflinkcep_spark.operators import match_pattern
    from reflinkcep_spark.operators.fastpath import try_fast_path

    q = _q(alt(leaf("A", "a"), leaf("B", "b")))
    df = spark.createDataFrame(
        [(1, 0, "a", 1.0), (1, 1, "b", 2.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    assert (
        try_fast_path(df, KeyedPlan(
            q, order_by="event_id", keys=["user_id"],
            type_col="event_type",
            attr_cols=["event_id", "event_type", "value"], schema=df.schema,
        ))
        is None
    )
    out = match_pattern(
        df,
        q,
        order_by="event_id",
        partition_by="user_id",
        type_col="event_type",
        allow_fastpath=True,
    ).collect()
    assert len(out) == 2
