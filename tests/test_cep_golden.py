"""Golden parity: our NFA runtime must reproduce the reference engine's
exact match streams (content AND emission order) on all 29 reference
test cases."""

import pytest

from reflinkcep_spark import Pattern, Query, run_pattern
from reflinkcep_spark.sinks import render_matches as fancy

from tests.cep_cases import GOLDEN_CASES, SCHEMA_E


def make_events(pairs):
    return [
        ("e", {"id": i + 1, "name": n, "price": p})
        for i, (n, p) in enumerate(pairs)
    ]


@pytest.mark.parametrize(
    "name,qyaml,stream,expected",
    GOLDEN_CASES,
    ids=[c[0] for c in GOLDEN_CASES],
)
def test_golden(name, qyaml, stream, expected):
    query = Query.from_yaml(qyaml, name=name)
    matches = run_pattern(query, make_events(stream))
    assert fancy(matches) == expected


def test_builder_equivalent_to_yaml_spat():
    q = Pattern.begin("a1", "e").where("name == 1 and price < 4").query(SCHEMA_E)
    matches = run_pattern(q, make_events([(1, 0), (1, 5), (2, 0), (1, 2), (1, 8)]))
    assert fancy(matches) == "a1: e(1,1,0)\na1: e(4,1,2)"


def test_builder_sequence_with_loop():
    q = (
        Pattern.begin("b", "e").where("name == 2")
        .one_or_more()
        .followed_by("c", "e", where="name == 3")
        .query(SCHEMA_E, strategy="SkipToNext")
    )
    matches = run_pattern(q, make_events([(2, 0), (2, 1), (2, 2), (3, 0)]))
    assert fancy(matches) == (
        "b: e(1,2,0), e(2,2,1), e(3,2,2); c: e(4,3,0)\n"
        "b: e(2,2,1), e(3,2,2); c: e(4,3,0)\n"
        "b: e(3,2,2); c: e(4,3,0)"
    )


def test_builder_times_consecutive():
    q = (
        Pattern.begin("al", "e").where("name == 1 and price < 4")
        .times(2, 3)
        .consecutive()
        .query(SCHEMA_E)
    )
    matches = run_pattern(q, make_events([(1, 0), (1, 5), (1, 1), (1, 2), (1, 3)]))
    assert fancy(matches) == (
        "al: e(3,1,1), e(4,1,2)\n"
        "al: e(3,1,1), e(4,1,2), e(5,1,3)\n"
        "al: e(4,1,2), e(5,1,3)"
    )


def test_builder_group_times():
    inner = (
        Pattern.begin("a", "e").where("name == 1")
        .next_("b", "e", where="name == 2")
    )
    q = Pattern.group(inner).times(2, 3).query(SCHEMA_E)
    matches = run_pattern(
        q, make_events([(1, 0), (2, 5), (1, 0), (2, 2), (1, 0), (2, 2), (2, 8)])
    )
    assert fancy(matches) == (
        "a: e(1,1,0), e(3,1,0); b: e(2,2,5), e(4,2,2)\n"
        "a: e(1,1,0), e(3,1,0), e(5,1,0); b: e(2,2,5), e(4,2,2), e(6,2,2)\n"
        "a: e(3,1,0), e(5,1,0); b: e(4,2,2), e(6,2,2)"
    )


def test_empty_capture_omitted():
    """An optional sub-pattern that matched zero events must be absent
    from the match dict, not an empty list (reference DST.py:302-311)."""
    q = Query.from_yaml(
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: c
    event: e
    cndt: {expr: name == 3}
  right:
    type: lpat-inf
    name: a
    event: e
    cndt: {expr: name == 1}
    loop: {contiguity: relaxed, from: 0}
    until: {expr: name == 2}
context:
  schema: {e: [id, name, price]}
"""
    )
    matches = run_pattern(q, make_events([(3, 0), (2, 0)]))
    assert matches == [{"c": [{"id": 1, "name": 3, "price": 0}]}]
    assert "a" not in matches[0]


@pytest.mark.parametrize(
    "name,qyaml",
    [(c[0], c[1]) for c in GOLDEN_CASES],
    ids=[c[0] for c in GOLDEN_CASES],
)
def test_dig_table_matches_dynamic_search(name, qyaml):
    """``Automaton.dig_table`` must hold, for every state of every
    golden-case automaton, where a run that TAKEs into the state
    completes: the state itself when it accepts, else what the
    reference's dynamic epsilon-closure search (find_accepted,
    DST.py:272-292) finds from the fresh mask {state}."""
    from reflinkcep_spark.cep.automaton import EPS
    from reflinkcep_spark.cep.compiler import compile_query

    aut = compile_query(Query.from_yaml(qyaml))

    def find_accepted(state, mask, visited):
        visited.add(state)
        for e in aut.edges[state]:
            dst = e.dst
            if dst in visited or e.kind != EPS or mask & (1 << dst):
                continue
            if aut.outputs[dst] is not None:
                return dst
            found = find_accepted(dst, mask | (1 << dst), visited)
            if found is not None:
                return found
        return None

    for s in range(aut.n_states()):
        want = s if aut.outputs[s] is not None else find_accepted(s, 1 << s, set())
        assert aut.dig_table[s] == want, (name, s)
