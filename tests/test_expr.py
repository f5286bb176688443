"""Expression sub-language: sandbox rejection, SQL translation, and
evaluator semantics (reference DST.py:84-89 eval + genjava.py:371-379
and/or/not rewrite)."""

import pytest

from reflinkcep_spark.cep.expr import (
    ExprError,
    compile_predicate,
    compile_update,
    to_sql,
)

REJECTED = [
    "__import__('os').system('id')",  # call
    "(1).__class__",                  # attribute
    "name.__dict__",                  # attribute
    "open('x')",                      # call
    "lambda: 1",                      # lambda
    "[x for x in ()]",                # comprehension
    "x[0]",                           # subscript
    "f'{name}'",                      # f-string
    "name := 3",                      # walrus / invalid
    "import os",                      # statement
    "",                               # empty
]


@pytest.mark.parametrize("expr", REJECTED, ids=[r[:20] or "<empty>" for r in REJECTED])
def test_sandbox_rejects_at_compile_time(expr):
    with pytest.raises(ExprError):
        compile_predicate(expr)


def test_conditional_expression_accepted_and_translated():
    # `a if cond else b` entered the sub-language in round 14 (the
    # MATCH_RECOGNIZE FIRST(V.col) register update is conditional)
    p = compile_predicate("(price if X == 0 else Y) > 3")
    assert p({"price": 5}, {"X": 0, "Y": 1}) is True
    assert p({"price": 5}, {"X": 1, "Y": 1}) is False
    up = compile_update({"Y": "price if X == 0 else Y"})
    assert up({"price": 7}, {"X": 0, "Y": None})["Y"] == 7
    assert up({"price": 9}, {"X": 1, "Y": 7})["Y"] == 7
    assert (
        to_sql("price if X == 0 else Y")
        == "(CASE WHEN (X = 0) THEN price ELSE Y END)"
    )


def test_predicate_and_update_semantics():
    p = compile_predicate("name == 1 and X + price <= 5")
    assert p({"name": 1, "price": 2}, {"X": 3})
    assert not p({"name": 1, "price": 3}, {"X": 3})
    # update maps are simultaneous assignments from the OLD env
    u = compile_update({"X": "X + price", "Y": "X"})
    assert u({"price": 4}, {"X": 1, "Y": 0}) == {"X": 5, "Y": 1}


def test_scope_resolution_semantics():
    """The round-14 merged-dict scope (was ChainMap) must keep the
    reference's resolution rules (DST.py:88-89 ``{**env, **attrs}``):
    attributes shadow data variables on collision, a name missing from
    both raises NameError, and evaluation never mutates the caller's
    env or attrs mappings."""
    p = compile_predicate("v > 10")
    # attrs shadow env on name collision
    assert p({"v": 20}, {"v": 0}) is True
    assert p({"v": 0}, {"v": 20}) is False
    # missing name -> NameError, with and without a non-empty env
    with pytest.raises(NameError):
        p({"w": 1}, {})
    with pytest.raises(NameError):
        p({"w": 1}, {"x": 2})
    # neither mapping is mutated by predicate or update evaluation
    attrs, env = {"v": 20, "u": 1}, {"S": 3}
    u = compile_update({"S": "S + v"})
    new_env = u(attrs, env)
    assert new_env == {"S": 23}
    assert attrs == {"v": 20, "u": 1} and env == {"S": 3}
    # update expressions see attrs shadowing env too
    u2 = compile_update({"S": "v"})
    assert u2({"v": 7}, {"v": 1, "S": 0}) == {"v": 1, "S": 7}


def test_to_sql_translation():
    assert (
        to_sql("name == 1 and not (price < 4 or price >= 10)")
        == "((name = 1) AND (NOT ((price < 4) OR (price >= 10))))"
    )
    # chained comparison expands to conjunction
    assert "AND" in to_sql("1 <= price <= 4")
    # != maps to SQL inequality
    assert "<>" in to_sql("name != 2") or "!=" in to_sql("name != 2")


def test_to_sql_mod_matches_python_on_negatives():
    """Python % is floored, SQL % truncated; to_sql must emit the
    floored form so kernel (eval) and fast path / oracle (SQL) agree."""
    import duckdb

    p = compile_predicate("name % price == 2")
    sql = to_sql("name % price")
    con = duckdb.connect()
    for a in (-7, -3, -1, 0, 1, 3, 7):
        for b in (-3, -2, 2, 3):
            want = a % b
            got = con.execute(
                "SELECT " + sql.replace("name", str(a)).replace("price", f"({b})")
            ).fetchone()[0]
            assert got == want, (a, b, got, want)
            assert bool(p({"name": a, "price": b}, {})) == (want == 2)
