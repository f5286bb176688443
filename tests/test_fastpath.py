"""Fast-path ≡ kernel: the pure-Catalyst plans must produce the same
match sets as the NFA kernel (order-insensitive; match_seq excluded for
the loop fast path where emission order legitimately differs)."""

import pytest

from reflinkcep_spark import Query
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
     (Q_LPAT, ["al"], False), (Q_REL_PAIR, ["a", "b"], True),
     (_chain_yaml(["relaxed", "relaxed"]), ["a", "b", "c"], True),
     (_chain_yaml(["strict", "relaxed"]), ["a", "b", "c"], True),
     (_chain_yaml(["relaxed", "strict"]), ["a", "b", "c"], True),
     (_chain_yaml(["relaxed", "relaxed"], "SkipToNext"), ["a", "b", "c"], True),
     (_chain_yaml(["nd-relaxed", "nd-relaxed"]), ["a", "b", "c"], False),
     (Q_LPAT_INF, ["al"], False),
     (Q_LPAT_INF_STN, ["al"], False)],
    ids=["spat", "chain3", "strict-lpat", "relaxed-pair", "relaxed3",
         "strict-relaxed", "relaxed-strict", "relaxed3-skiptonext",
         "ndrelaxed3", "strict-lpat-inf", "strict-lpat-inf-skiptonext"],
)
def test_fastpath_equals_kernel(spark, qyaml, names, with_seq):
    query = Query.from_yaml(qyaml)
    df = _df(spark, STREAM)
    fast = try_fast_path(
        df, query, order_by="id", keys=["user_id"], type_col="type",
        attr_cols=["id", "type", "name", "price"],
    )
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
    fast = try_fast_path(
        df, query, order_by="id", keys=["user_id"], type_col="type",
        attr_cols=["id", "type", "name", "price"],
    )
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
    fast = try_fast_path(
        df, query, order_by="id", keys=["user_id"], type_col="type",
        attr_cols=["id", "type", "name", "price"],
    )
    assert fast is None


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
