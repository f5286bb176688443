"""Flink's parameterized after-match skip strategies
(SkipToFirst:<p> / SkipToLast:<p>) — the two the reference engine lacks.

Golden cases hand-traced from the public Flink CEP AfterMatchSkip
documentation semantics: after a match is emitted, every partial run
that started before the first (resp. last) event captured under <p> in
that match is discarded; pruning applies inside the emit loop, runs
visited oldest-first."""

import pytest

from reflinkcep_spark.cep.query import Pattern, QueryError
from reflinkcep_spark.cep.runtime import run_pattern

SCHEMA = {"e": ["id", "name"]}


def _bc_query(strategy):
    # b+ (strict loop) then c — Flink's documentation example shape
    return (
        Pattern.begin("b", event="e", where="name == 2")
        .one_or_more()
        .consecutive()
        .next_("c", event="e", where="name == 3")
        .query(schema=SCHEMA, strategy=strategy)
    )


B1, B2, B3 = ({"id": i, "name": 2} for i in (1, 2, 3))
C = {"id": 4, "name": 3}
BBBC = [("e", B1), ("e", B2), ("e", B3), ("e", C)]


def _ids(match):
    return {k: [e["id"] for e in v] for k, v in match.items()}


def test_noskip_baseline_emits_every_suffix():
    out = [_ids(m) for m in run_pattern(_bc_query("NoSkip"), BBBC)]
    assert out == [
        {"b": [1, 2, 3], "c": [4]},
        {"b": [2, 3], "c": [4]},
        {"b": [3], "c": [4]},
    ]


def test_skip_to_first_matches_flink_table():
    # first b of the first match is b1 -> nothing starts before it ->
    # identical to NoSkip (the Flink docs row for SKIP_TO_FIRST[b])
    out = [_ids(m) for m in run_pattern(_bc_query("SkipToFirst:b"), BBBC)]
    assert out == [
        {"b": [1, 2, 3], "c": [4]},
        {"b": [2, 3], "c": [4]},
        {"b": [3], "c": [4]},
    ]


def test_skip_to_last_matches_flink_table():
    # last b of the first match is b3 -> the b2-start run is pruned,
    # the b3-start run survives (Flink docs: b1b2b3c and b3c emitted)
    out = [_ids(m) for m in run_pattern(_bc_query("SkipToLast:b"), BBBC)]
    assert out == [
        {"b": [1, 2, 3], "c": [4]},
        {"b": [3], "c": [4]},
    ]


def test_skip_to_first_prunes_across_events():
    # a then b+ (relaxed): emitting {a, b1} prunes the continuing run
    # (it started at a, before b1), so no longer match can complete.
    q = (
        Pattern.begin("a", event="e", where="name == 1")
        .followed_by("b", event="e", where="name == 2")
        .one_or_more()
        .query(schema=SCHEMA, strategy="SkipToFirst:b")
    )
    stream = [("e", {"id": 1, "name": 1}), ("e", {"id": 2, "name": 2}),
              ("e", {"id": 3, "name": 2})]
    out = [_ids(m) for m in run_pattern(q, stream)]
    assert out == [{"a": [1], "b": [2]}]
    # baseline sanity: NoSkip also emits the extensions
    q0 = (
        Pattern.begin("a", event="e", where="name == 1")
        .followed_by("b", event="e", where="name == 2")
        .one_or_more()
        .query(schema=SCHEMA, strategy="NoSkip")
    )
    base = [_ids(m) for m in run_pattern(q0, stream)]
    assert {"a": [1], "b": [2, 3]} in base and len(base) > 1


def test_unmatched_optional_target_prunes_nothing():
    # optional b captured nothing in the a-only match -> lenient: no
    # pruning from that match
    q = (
        Pattern.begin("a", event="e", where="name == 1")
        .followed_by("b", event="e", where="name == 2")
        .times(0, 1)
        .query(schema=SCHEMA, strategy="SkipToLast:b")
    )
    stream = [("e", {"id": 1, "name": 1}), ("e", {"id": 2, "name": 1})]
    out = [_ids(m) for m in run_pattern(q, stream)]
    # both a-only matches emitted (nothing pruned)
    assert {"a": [1]} in out and {"a": [2]} in out


def test_unknown_target_rejected_at_build_time():
    with pytest.raises(QueryError, match="unknown pattern name"):
        (Pattern.begin("a", event="e", where="name == 1")
         .query(schema=SCHEMA, strategy="SkipToLast:zzz"))
    with pytest.raises(QueryError, match="unknown after-match strategy"):
        (Pattern.begin("a", event="e", where="name == 1")
         .query(schema=SCHEMA, strategy="SkipToLast:"))


def test_spark_kernel_runs_parameterized_strategy(spark):
    """The batch NFA kernel must reproduce the pure-engine matches
    for a parameterized strategy (which can never fast-path)."""
    from reflinkcep_spark.operators import match_pattern

    q = _bc_query("SkipToLast:b")
    pairs = [(2, 0), (2, 0), (2, 0), (3, 0)]  # b b b c
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(3)
        for i, (n, p) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, id long, type string, name long, price long"
    )
    out = match_pattern(
        df, q, order_by="id", partition_by="user_id", type_col="type"
    ).collect()
    want = [{"b": [1, 2, 3], "c": [4]}, {"b": [3], "c": [4]}]
    for k in range(3):
        got = sorted(
            (r for r in out if r["user_id"] == k), key=lambda r: r["match_seq"]
        )
        assert [
            {n: [e["id"] for e in r[n]] for n in ("b", "c") if r[n] is not None}
            for r in got
        ] == want


def test_skip_to_first_pairs_with_earliest_pending():
    """The reduction behind cep_signup_purchase_skipfirst's oracle:
    each purchase pairs with the EARLIEST signup since the previous
    purchase; purchases with no new signup emit nothing."""
    q = (
        Pattern.begin("reg", event="e", where="name == 1")
        .followed_by("buy", event="e", where="name == 2")
        .query(schema=SCHEMA, strategy="SkipToFirst:buy")
    )
    # s s p s s p p s p  (signups name==1, purchases name==2)
    stream = [("e", {"id": i, "name": n}) for i, n in
              [(1, 1), (2, 1), (3, 2), (4, 1), (5, 1), (6, 2), (7, 2),
               (8, 1), (9, 2)]]
    out = [_ids(m) for m in run_pattern(q, stream)]
    assert out == [
        {"reg": [1], "buy": [3]},   # earliest of s1,s2
        {"reg": [4], "buy": [6]},   # earliest since p3
        {"reg": [8], "buy": [9]},   # p7 emitted nothing (no new signup)
    ]


def test_match_engine_rejects_unknown_strategy_directly():
    """MatchEngine constructed directly (bypassing Query validation)
    must raise on unknown spellings instead of silently degrading to
    NoSkip — strategy parsing has one source of truth
    (query.parse_strategy)."""
    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine

    aut = compile_query(_bc_query("NoSkip"))
    with pytest.raises(QueryError, match="unknown after-match strategy"):
        MatchEngine(aut, "SkipToNowhere:b")
    with pytest.raises(QueryError, match="unknown after-match strategy"):
        MatchEngine(aut, "SkipToFirst:")  # missing target
    # Known spellings still construct fine.
    MatchEngine(aut, "SkipToLast:b")
