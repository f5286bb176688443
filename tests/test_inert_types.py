"""``Automaton.inert_types``: the event types both operators drop below
their shuffle, because no run reacts to them.  Without Spark.

Dropping an inert type's rows must leave a key's ``MatchEngine`` output
unchanged: the same matches in the same order, with positions mapped
back to the full stream, and the same live runs after every kept row.
Checked over the whole reference corpus and over seeded random
multi-type patterns, under every skip strategy, on seeded streams that
mix declared types with undeclared ones, with and without ``within``.
To the bare ``MatchEngine``, ``None`` is just one more undeclared type;
a row with a NULL type column reaches it as ``KeyedPlan``'s reserved
``UNTYPED``, which the random patterns declare.
"""

from __future__ import annotations

import random
from pathlib import Path

import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.cep.compiler import compile_pattern, compile_query
from reflinkcep_spark.cep.keyed import UNTYPED
from reflinkcep_spark.cep.runtime import MatchEngine
from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML

from tests.corpus import DIVISIONS, SCHEMA, iter_division
from tests.test_fastpath import Q_CHAIN, Q_LPAT, Q_LPAT_INF

PLAIN_STRATEGIES = ["NoSkip", "SkipToNext", "SkipPastLastEvent"]
WITHINS = [None, 3, 6]
TYPES = ["e", "f", "g", None]  # g and None are undeclared


def _stream(seed: int, n: int = 14) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (rng.choices(TYPES, weights=[5, 3, 1, 1])[0],
         {"id": i + 1, "name": rng.randint(1, 3), "price": rng.randint(0, 6)})
        for i in range(n)
    ]


STREAMS = [_stream(seed) for seed in (11, 12)]


def _replay(aut, strategy, within, stream, positions):
    """``MatchEngine`` over ``stream``; matches and live runs are
    reported in the positions of the full stream (``positions[i]`` is
    the full-stream position of ``stream[i]``)."""
    engine = MatchEngine(aut, strategy, within)
    out, runs = [], []
    for i, (t, attrs) in enumerate(stream):
        for m in engine.feed(t, attrs, attrs["id"]):
            out.append((
                positions[m.start], positions[m.end],
                {n: [positions[p] for p in ps] for n, ps in m.captures.items()},
            ))
        runs.append((positions[i], [(positions[k], c.state) for k, c in engine.runs]))
    return out, runs


def _mismatches(aut, inert, streams=STREAMS, target="pl") -> list:
    """The (strategy, within) settings under which dropping ``inert``
    changes the replay; ``target`` is the skip strategies' variable."""
    strategies = [*PLAIN_STRATEGIES, f"SkipToFirst:{target}", f"SkipToLast:{target}"]
    bad = []
    for stream in streams:
        kept = [i for i, (t, _a) in enumerate(stream) if t not in inert]
        for strategy in strategies:
            for within in WITHINS:
                full, full_runs = _replay(aut, strategy, within, stream, range(len(stream)))
                part, part_runs = _replay(
                    aut, strategy, within, [stream[i] for i in kept], kept
                )
                full_runs = [r for r in full_runs if r[0] in kept]
                if full != part or full_runs != part_runs:
                    bad.append((strategy, within))
    return bad


def _corpus_inert():
    for div in DIVISIONS:
        for case_id, ast in iter_division(div):
            aut = compile_pattern(ast, SCHEMA)
            yield case_id, aut, aut.inert_types(SCHEMA)


def test_dropping_inert_types_keeps_every_corpus_match():
    checked = 0
    failures = []
    for case_id, aut, inert in _corpus_inert():
        assert inert <= {"f"}, (case_id, inert)  # e spawns every pattern
        if inert:
            checked += 1
            bad = _mismatches(aut, inert)
            if bad:
                failures.append((case_id, bad[:3]))
    assert not failures, failures[:10]
    # The corpus does exercise the analysis: relaxed and nd-relaxed
    # cases whose every stored state skips f unconditioned.
    assert checked >= 100


def _random_pattern(rng: random.Random, depth: int, names: list) -> dict:
    """A pattern over the event types a/b/c: leaves, loops under every
    contiguity, sequences, alternations and group loops, nested."""
    if depth == 0 or rng.random() < 0.3:
        names.append(f"p{len(names)}")
        node = {"type": "spat", "name": names[-1], "event": rng.choice("abc"),
                "cndt": {"expr": rng.choice(["True", "v > 3", "v == 2"])}}
        contiguity = rng.choice(["strict", "relaxed", "nd-relaxed"])
        r = rng.random()
        if r < 0.25:
            node.update(type="lpat", loop={"contiguity": contiguity, "from": 1, "to": 2})
        elif r < 0.5:
            loop = {"contiguity": contiguity, "from": rng.choice([0, 2])}
            node.update(type="lpat-inf", loop=loop)
        return node
    kids = [_random_pattern(rng, depth - 1, names) for _ in range(2)]
    r = rng.random()
    if r < 0.6:
        return {"type": "combine", "left": kids[0], "right": kids[1],
                "contiguity": rng.choice(["strict", "relaxed", "relaxed", "nd-relaxed"])}
    if r < 0.8:
        return {"type": "alt", "left": kids[0], "right": kids[1]}
    return {"type": "gpat-inf", "child": kids[0], "loop": {"from": rng.choice([0, 1])}}


def test_dropping_inert_types_keeps_random_multi_type_patterns():
    """Beyond the corpus's one-type patterns: a type can be taken in
    some states and skipped in others, and x and the reserved UNTYPED
    are declared but unnamed.  UNTYPED is inert exactly when x is, and
    whenever any type is: ``KeyedPlan.inert_filter`` relies on it."""
    rng = random.Random(8)
    schema = {**{t: [] for t in "abcx"}, UNTYPED: []}
    checked = 0
    for _ in range(400):
        ast = _random_pattern(rng, 3, [])
        aut = compile_pattern(ast, schema)
        inert = aut.inert_types(schema)
        assert (UNTYPED in inert) == ("x" in inert) == bool(inert), (ast, inert)
        if inert:
            checked += 1
            streams = [  # u is undeclared
                [(rng.choice("abcxu") if rng.random() < 0.9 else UNTYPED,
                  {"id": i + 1, "v": rng.randint(0, 6)}) for i in range(12)]
                for _ in range(2)
            ]
            assert not _mismatches(aut, inert, streams, target="p0"), (ast, inert)
    assert checked >= 50


def _inert(qyaml: str) -> frozenset:
    q = Query.from_yaml(qyaml)
    return compile_query(q).inert_types(q.schema.keys())


def test_benchmark_patterns_drop_their_unused_types(monkeypatch):
    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "cepbench"))
    from workloads import SIGNUP_SPEND_YAML

    assert _inert(SIGNUP_SPEND_YAML) == {"click", "error", "view"}
    assert _inert(FUNNEL_YAML) == {"click", "view"}


@pytest.mark.parametrize("qyaml", [Q_CHAIN, Q_LPAT, Q_LPAT_INF], ids=["chain3", "lpat", "lpat-inf"])
def test_strict_patterns_have_no_inert_type(qyaml):
    """A strict pattern kills a run on any event it cannot take."""
    declared = Query.from_yaml(qyaml).schema.keys()
    wider = qyaml.replace("schema: {e: [id, name, price]}", "schema: {e: [], f: []}")
    assert _inert(qyaml) == frozenset() and _inert(wider) == frozenset()
    assert "f" in Query.from_yaml(wider).schema and "f" not in declared


def test_inert_types_is_cached_per_type_set():
    q = Query.from_yaml(FUNNEL_YAML)
    aut = compile_query(q)
    first = aut.inert_types(q.schema.keys())
    assert aut.inert_types(list(q.schema.keys())) is first
    # Only the given types are candidates.
    assert aut.inert_types(["signup", "click"]) == {"click"}
