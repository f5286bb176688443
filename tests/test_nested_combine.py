"""Nested right children under non-strict combine — the round-8
beyond-reference lift (reference compile.py:415-419 refuses these; so
does Flink's genjava surface, so the semantics source is the public
Flink contract: PER-STATE ignore conditions.  The gap's contiguity
governs the transition into the group's FIRST MATCHED ELEMENT,
whichever leaf that turns out to be: each way the right child can
consume its first event becomes one computation branch whose ignore
guard derives from that branch's own take condition (relaxed) or is
unconditional (nd-relaxed).  In particular a right child with an
optional prefix — ``(B* fby C)`` — forks a B-waiting branch AND a
loop-bypassing C-waiting branch, so the zero-B match ``{a, c}``
survives even when usable Bs stream past the other branch.

Three layers:
* golden cases with hand-derived expectations,
* nested-vs-flat differential on randomized streams (the flat
  left-nested forms compile through the pre-existing, reference-
  validated leaf path — where a flat equivalent EXISTS, the nested
  form must match it exactly, emission order included),
* fast-path parity for right-nested spat chains (the planner's
  flattening now accepts them).
"""

import random

import pytest

from reflinkcep_spark import Pattern, Query, run_pattern

SCHEMA = {"e": ["id", "name"]}


def ev(names):
    return [("e", {"id": i + 1, "name": n}) for i, n in enumerate(names)]


def ids(matches):
    return [
        {k: [e["id"] for e in v] for k, v in m.items()} for m in matches
    ]


def test_relaxed_gap_applies_before_first_right_event_only():
    """A fby (B next C): events are skippable only until B is taken;
    the inner strict link is untouched by the outer relaxed gap."""
    inner = Pattern.begin("b", "e").where("name == 2").next_("c", "e", "name == 3")
    q = Pattern.begin("a", "e").where("name == 1").then("relaxed", inner).query(SCHEMA)
    # e2 (name 4) skipped — it cannot begin the right child; then b=e3,
    # strict c=e4.
    assert ids(run_pattern(q, ev([1, 4, 2, 3]))) == [{"a": [1], "b": [3], "c": [4]}]
    # b=e2 taken (a matching event is NOT skippable under relaxed),
    # then e3 breaks the inner strict link: no match.
    assert ids(run_pattern(q, ev([1, 2, 4, 3]))) == []


def test_optional_prefix_forks_branches_without_duplicates():
    """A fby (B* fby C): two computation branches — B-waiting (skips
    non-B) and loop-bypassing C-waiting (skips non-C, INCLUDING usable
    Bs, because for that branch C is the group's first element).  On a
    stream with no B at all, both branches funnel into exactly ONE
    {a, c} (the interior ignore edges behind the optional loop must
    not fork a duplicate); with Bs present, the zero-B bypass match
    appears alongside the loop prefixes — Flink's optional-prefix NFA
    branch set."""
    inner = (
        Pattern.begin("b", "e").where("name == 2").times_or_more(0)
        .followed_by("c", "e", "name == 3")
    )
    q = Pattern.begin("a", "e").where("name == 1").then("relaxed", inner).query(SCHEMA)
    assert ids(run_pattern(q, ev([1, 9, 3]))) == [{"a": [1], "c": [3]}]
    # Loop prefixes b=[2,4] and b=[2] (relaxed loop), plus the zero-B
    # bypass {a, c} — same set AND order as the flat chain
    # a fby b{0,inf} fby c (asserted exhaustively below).
    assert ids(run_pattern(q, ev([1, 2, 9, 2, 3]))) == [
        {"a": [1], "b": [2, 4], "c": [5]},
        {"a": [1], "b": [2], "c": [5]},
        {"a": [1], "c": [5]},
    ]


def test_zero_consume_right_completes_via_closure_finals():
    """A fby group(B){0,∞}: the right child can match zero events, so
    the match [A] alone must survive the per-branch construction
    (ε-links to the closure's final states)."""
    g = Pattern.group(Pattern.begin("b", "e").where("name == 2")).times_or_more(0)
    q = Pattern.begin("a", "e").where("name == 1").then("relaxed", g).query(SCHEMA)
    assert ids(run_pattern(q, ev([1, 2]))) == [{"a": [1]}, {"a": [1], "b": [2]}]


def test_nd_relaxed_gap_forks_on_matching_events():
    """A fbAny (B next C): nd-relaxed may skip even a usable B, so both
    (b=e2,c=e3) and (b=e4,c=e5) emit; relaxed would force b=e2."""
    inner = Pattern.begin("b", "e").where("name == 2").next_("c", "e", "name == 3")
    q = (
        Pattern.begin("a", "e").where("name == 1")
        .then("nd-relaxed", inner).query(SCHEMA)
    )
    assert ids(run_pattern(q, ev([1, 2, 3, 2, 3]))) == [
        {"a": [1], "b": [2], "c": [3]},
        {"a": [1], "b": [4], "c": [5]},
    ]


def test_multi_take_closure_optional_loop_then_strict():
    """A fby (B*consec next C): the closure holds TWO take states
    (begin the loop, or begin C directly with zero Bs) — each becomes
    its own branch with its OWN guard (¬B for the loop branch, ¬C for
    the bypass branch), so the bypass may skip usable Bs while the
    loop branch may not."""
    inner = (
        Pattern.begin("b", "e").where("name == 2").times_or_more(0).consecutive()
        .next_("c", "e", "name == 3")
    )
    q = Pattern.begin("a", "e").where("name == 1").then("relaxed", inner).query(SCHEMA)
    # Loop branch: 9 skipped (¬B), b=[3,4] strict-consecutive, c=e5.
    # Bypass branch: 9, 2, 2 all skipped (¬C), c=e5 with zero Bs.
    assert ids(run_pattern(q, ev([1, 9, 2, 2, 3]))) == [
        {"a": [1], "b": [3, 4], "c": [5]},
        {"a": [1], "c": [5]},
    ]
    # Zero-B completion: C can be the first right event — exactly once.
    assert ids(run_pattern(q, ev([1, 9, 3]))) == [{"a": [1], "c": [3]}]


def test_nd_relaxed_gap_inherited_by_bypass_branch():
    """A fbAny (B* fby C): the gap's ANY-contiguity belongs to the
    group's first MATCHED element, so the zero-B bypass branch may
    skip even C events (emitting one match per later C), while a
    B-taking branch's C link stays relaxed (first C only).  This shape
    has NO flat-chain equivalent — the flat a fbAny b* fby c pins C's
    link to relaxed for every branch — which is precisely the
    expressiveness the nested lift adds."""
    inner = (
        Pattern.begin("b", "e").where("name == 2").times_or_more(0)
        .followed_by("c", "e", "name == 3")
    )
    q = (
        Pattern.begin("a", "e").where("name == 1")
        .then("nd-relaxed", inner).query(SCHEMA)
    )
    assert ids(run_pattern(q, ev([1, 3, 3]))) == [
        {"a": [1], "c": [2]},
        {"a": [1], "c": [3]},
    ]
    assert ids(run_pattern(q, ev([1, 2, 3, 3]))) == [
        {"a": [1], "b": [2], "c": [3]},  # b taken, inner fby → first C
        {"a": [1], "c": [3]},            # bypass, first C
        {"a": [1], "c": [4]},            # bypass, ANY gap skips c3 too
    ]


def _flat_vs_nested_cases():
    """(nested query, flat query) pairs that must be equivalent: the
    flat builder chains left-nested combines through the pre-existing
    leaf path; associativity of sequencing makes them the same
    language."""
    a = Pattern.begin("a", "e").where("name == 1")
    cases = []
    for contig, seq in (("relaxed", "followed_by"), ("nd-relaxed", "followed_by_any")):
        inner_strict = (
            Pattern.begin("b", "e").where("name == 2").next_("c", "e", "name == 3")
        )
        nested = a.then(contig, inner_strict).query(SCHEMA)
        flat = getattr(a, seq)("b", "e", "name == 2").next_(
            "c", "e", "name == 3"
        ).query(SCHEMA)
        cases.append((f"{contig}/strict-pair", nested, flat))

        inner_relaxed = (
            Pattern.begin("b", "e").where("name == 2")
            .followed_by("c", "e", "name == 3")
        )
        nested = a.then(contig, inner_relaxed).query(SCHEMA)
        flat = getattr(a, seq)("b", "e", "name == 2").followed_by(
            "c", "e", "name == 3"
        ).query(SCHEMA)
        cases.append((f"{contig}/relaxed-pair", nested, flat))

        inner_loop = (
            Pattern.begin("b", "e").where("name == 2").one_or_more()
            .followed_by("c", "e", "name == 3")
        )
        nested = a.then(contig, inner_loop).query(SCHEMA)
        flat = (
            getattr(a, seq)("b", "e", "name == 2")
            .one_or_more()
            .followed_by("c", "e", "name == 3")
            .query(SCHEMA)
        )
        cases.append((f"{contig}/loop-then-leaf", nested, flat))
    # Optional prefix, relaxed gap: the bypass branch exists in BOTH
    # forms (the flat b{0,inf} leaf forks it through the leaf path),
    # and both gaps are relaxed, so nested ≡ flat exactly.  (The
    # nd-relaxed optional-prefix shape has no flat equivalent — see
    # test_nd_relaxed_gap_inherited_by_bypass_branch.)
    inner_opt = (
        Pattern.begin("b", "e").where("name == 2").times_or_more(0)
        .followed_by("c", "e", "name == 3")
    )
    nested = a.then("relaxed", inner_opt).query(SCHEMA)
    flat = (
        a.followed_by("b", "e", "name == 2").times_or_more(0)
        .followed_by("c", "e", "name == 3").query(SCHEMA)
    )
    cases.append(("relaxed/optional-prefix", nested, flat))
    return cases


_CASES = _flat_vs_nested_cases()


@pytest.mark.parametrize(
    "label,nested,flat", _CASES, ids=[c[0] for c in _CASES]
)
def test_nested_equals_flat_on_random_streams(label, nested, flat):
    rng = random.Random(20260815)
    for trial in range(60):
        stream = ev([rng.randrange(1, 5) for _ in range(rng.randrange(2, 12))])
        got = ids(run_pattern(nested, stream))
        want = ids(run_pattern(flat, stream))
        assert got == want, (label, trial, [e[1]["name"] for e in stream])


def test_fastpath_parity_right_nested_chain(spark):
    """The planner now flattens a right-nested spat chain under a
    non-strict combine; its window plan must match the kernel."""
    from reflinkcep_spark.cep.keyed import KeyedPlan
    from reflinkcep_spark.operators import match_pattern
    from reflinkcep_spark.operators.fastpath import try_fast_path

    inner = {
        "type": "combine",
        "contiguity": "strict",
        "left": {"type": "spat", "name": "b", "event": "e",
                 "cndt": {"expr": "name == 2"}},
        "right": {"type": "spat", "name": "c", "event": "e",
                  "cndt": {"expr": "name == 3"}},
    }
    ast = {
        "type": "combine",
        "contiguity": "relaxed",
        "left": {"type": "spat", "name": "a", "event": "e",
                 "cndt": {"expr": "name == 1"}},
        "right": inner,
    }
    query = Query(ast, {"schema": {"e": ["id", "name"]}, "strategy": "NoSkip",
                        "name": "nested"})
    rows = [
        (k, i + 1, "e", n)
        for k in range(3)
        for i, n in enumerate([1, 4, 2, 3, 1, 2, 4, 3, 1, 9, 2, 3])
    ]
    df = spark.createDataFrame(rows, "user_id int, id long, type string, name long")
    fast = try_fast_path(df, KeyedPlan(
        query, order_by="id", keys=["user_id"], type_col="type",
        attr_cols=["id", "type", "name"], schema=df.schema,
    ))
    assert fast is not None, "planner should accept the right-nested chain now"
    slow = match_pattern(
        df, query, order_by="id", partition_by="user_id", type_col="type",
        allow_fastpath=False,
    )
    assert fast.columns == slow.columns

    def canon(rows_):
        return {
            (r["user_id"], r["start_ord"], r["end_ord"],
             tuple(e["id"] for e in r["a"]), tuple(e["id"] for e in r["b"]),
             tuple(e["id"] for e in r["c"]))
            for r in rows_
        }

    got, want = canon(fast.collect()), canon(slow.collect())
    assert got == want
    assert len(got) > 0


def test_nested_combine_through_streaming_kernel(spark, tmp_path):
    """The lifted nested-right automaton must run through the STREAMING
    kernel too (match_pattern_stream persists the same run-set the
    batch kernel walks): the nested funnel's stream output over the
    sf0.001 event log equals the batch driver query exactly — the NFA
    path has no watermark hold-back."""
    import os

    from pyspark.sql import functions as F

    from __spark_entry__ import _stream_events
    from reflinkcep_spark.cep.query import Query as CQuery
    from reflinkcep_spark.queries.cep_queries import cep_nested_funnel_relaxed
    from reflinkcep_spark.session import ensure_package_shipped
    from reflinkcep_spark.streaming import match_pattern_stream

    SF = "/root/testdata/sf0.001"
    ensure_package_shipped(spark)
    stream = _stream_events(spark, SF).select(
        "user_id", "event_id", "event_type", "value"
    )
    out = match_pattern_stream(
        stream,
        CQuery.from_yaml(
            """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: reg, event: signup, cndt: {expr: "True"}}
  right:
    type: combine
    contiguity: strict
    left:  {type: spat, name: buy, event: purchase, cndt: {expr: value > 50}}
    right: {type: spat, name: err, event: error,    cndt: {expr: "True"}}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""
        ),
        order_by="event_id",
        partition_by="user_id",
    ).select(
        "user_id",
        F.element_at(F.col("reg"), 1)["event_id"].alias("signup_id"),
        F.element_at(F.col("buy"), 1)["event_id"].alias("purchase_id"),
        F.element_at(F.col("err"), 1)["event_id"].alias("error_id"),
    )
    sink = f"nested_stream_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in spark.table(sink).collect())
    want = sorted(
        tuple(r) for r in cep_nested_funnel_relaxed(spark, SF).collect()
    )
    assert got == want and got
