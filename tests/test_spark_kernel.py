"""Spark batch kernel: plumbing parity with the pure-Python engine.

The golden tests already pin the match semantics; here we check that
the grouped-map kernel (shuffle → per-key sort → NFA → Arrow round
trip) reproduces the same matches per key, on synthetic multi-key
frames and on the driver's events table.
"""

import pytest

from reflinkcep_spark import Query, run_pattern
from reflinkcep_spark.operators import match_pattern

from tests.cep_cases import GOLDEN_CASES
from tests.conftest import SF_DIR

# Representative slice of the golden corpus: one per operator family.
KERNEL_CASES = [c for c in GOLDEN_CASES if c[0] in (
    "hello", "lpat_nm", "lpat_nm_ic", "lpat_inf_until_relaxed",
    "cat_strict_3", "cat_ndrelaxed", "ams_skiptonext", "gpat_times",
    "nested_until",
)]


def _events_df(spark, pairs, n_keys=3):
    """The same stream replicated under several partition keys."""
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(n_keys)
        for i, (n, p) in enumerate(pairs)
    ]
    return spark.createDataFrame(rows, "user_id int, id long, type string, name long, price long")


def _expected_per_key(qyaml, pairs):
    query = Query.from_yaml(qyaml)
    stream = [("e", {"id": i + 1, "name": n, "price": p}) for i, (n, p) in enumerate(pairs)]
    return run_pattern(query, stream)


@pytest.mark.parametrize(
    "name,qyaml,stream,expected",
    KERNEL_CASES,
    ids=[c[0] for c in KERNEL_CASES],
)
def test_kernel_matches_pure_engine(spark, name, qyaml, stream, expected):
    query = Query.from_yaml(qyaml, name=name)
    df = _events_df(spark, stream)
    out = match_pattern(
        df,
        query,
        order_by="id",
        partition_by="user_id",
        type_col="type",
        allow_fastpath=False,
    )
    rows = out.collect()
    want_one_key = _expected_per_key(qyaml, stream)

    assert {r["user_id"] for r in rows} == ({0, 1, 2} if want_one_key else set())
    for k in (0, 1, 2):
        got = sorted(
            (r for r in rows if r["user_id"] == k), key=lambda r: r["match_seq"]
        )
        assert len(got) == len(want_one_key)
        for row, want in zip(got, want_one_key):
            for cap_name, evs in want.items():
                got_ids = [e["id"] for e in row[cap_name]]
                assert got_ids == [e["id"] for e in evs]
            # captures absent from the match must be NULL columns
            for cap_name in query.names:
                if cap_name not in want:
                    assert row[cap_name] is None


def test_kernel_on_events_table(spark):
    """Purchase >100 followed (relaxed) by an error, per user."""
    from reflinkcep_spark.sources import load_table

    q = Query.from_yaml(
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: big
    event: purchase
    cndt: {expr: value > 100}
  right:
    type: spat
    name: err
    event: error
    cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""
    )
    events = load_table(spark, SF_DIR, "events")
    out = match_pattern(
        events.select("user_id", "event_id", "event_type", "value"),
        q,
        order_by="event_id",
        partition_by="user_id",
        allow_fastpath=False,
    )
    rows = out.collect()
    assert len(rows) > 0

    # Independent cross-check in pandas per user.
    pdf = events.select("user_id", "event_id", "event_type", "value").toPandas()
    expected_pairs = set()
    for uid, g in pdf.sort_values("event_id").groupby("user_id"):
        recs = g.to_dict("records")
        for i, r in enumerate(recs):
            if r["event_type"] == "purchase" and r["value"] > 100:
                nxt = next(
                    (s for s in recs[i + 1:] if s["event_type"] == "error"), None
                )
                if nxt is not None:
                    expected_pairs.add((uid, r["event_id"], nxt["event_id"]))
    got_pairs = {
        (r["user_id"], r["big"][0]["event_id"], r["err"][0]["event_id"])
        for r in rows
    }
    assert got_pairs == expected_pairs


def test_kernel_run_limit_guard(spark):
    """nd-relaxed over an all-matching stream doubles the live run-set
    per event; the max_active_runs guard must fail fast with a clear
    error instead of OOMing the executor."""
    import pytest as _pytest

    q = Query.from_yaml(
        """
type: query
patseq:
  type: lpat-inf
  name: run
  event: e
  cndt: {expr: "True"}
  loop: {contiguity: nd-relaxed, from: 1}
context:
  schema: {e: []}
"""
    )
    df = _events_df(spark, [(1, 0)] * 40, n_keys=1)
    out = match_pattern(
        df, q, order_by="id", partition_by="user_id", type_col="type",
        allow_fastpath=False, max_active_runs=1000,
    )
    with _pytest.raises(Exception, match="exceeded 1000"):
        out.collect()


def test_kernel_global_stream(spark):
    q = Query.from_yaml(
        """
type: query
patseq:
  type: lpat
  name: run
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: strict, from: 2, to: 2}
context:
  schema: {e: []}
"""
    )
    df = _events_df(spark, [(1, 0), (1, 1), (2, 0), (1, 2)], n_keys=1).drop("user_id")
    # Unkeyed = one total-order group = one task; the planner must say
    # so loudly at plan time (VERDICT r3 #5).
    with pytest.warns(UserWarning, match="single task"):
        out = match_pattern(
            df, q, order_by="id", partition_by=None, type_col="type",
            allow_fastpath=False,
        )
    rows = out.collect()
    assert [[e["id"] for e in r["run"]] for r in rows] == [[1, 2]]


def test_hot_key_truncates_instead_of_dying(spark):
    """A pathological key under nd-relaxed blowup must not abort the
    job when on_limit='truncate': its partial matches survive, ONE
    sentinel row (match_seq=-1) flags it, and healthy keys are
    untouched (VERDICT r1 #9: degrade, don't die)."""
    from reflinkcep_spark.operators.cep import MatchLimitExceeded

    q = Query.from_dict(
        {
            "patseq": {
                "type": "lpat-inf",
                "name": "a",
                "event": "e",
                "cndt": {"expr": "True"},
                "loop": {"contiguity": "nd-relaxed", "from": 1},
            },
            "context": {"schema": {"e": ["id", "name", "price"]}, "strategy": "NoSkip"},
        }
    )
    hot = [(1, i + 1, "e", 1, 1) for i in range(40)]   # run-set ~doubles per event
    cold = [(2, i + 1, "e", 1, 1) for i in range(3)]
    df = spark.createDataFrame(
        hot + cold, "user_id int, id long, type string, name long, price long"
    )
    kwargs = dict(
        order_by="id",
        partition_by="user_id",
        type_col="type",
        allow_fastpath=False,
        max_active_runs=50,
    )

    with pytest.raises(Exception):  # default still raises (wrapped by Spark)
        match_pattern(df, q, **kwargs).collect()

    rows = match_pattern(df, q, on_limit="truncate", **kwargs).collect()
    hot_rows = [r for r in rows if r["user_id"] == 1]
    cold_rows = [r for r in rows if r["user_id"] == 2]
    sentinels = [r for r in hot_rows if r["match_seq"] == -1]
    assert len(sentinels) == 1
    assert sentinels[0]["a"] is None and sentinels[0]["start_ord"] is None
    assert len(hot_rows) > 1  # partial matches kept
    # cold key: full expected match set, no sentinel
    expected_cold = run_pattern(q, [("e", {"id": i + 1, "name": 1, "price": 1}) for i in range(3)])
    assert len(cold_rows) == len(expected_cold)
    assert all(r["match_seq"] >= 0 for r in cold_rows)


# --- within: span-bounded matching (Flink CEP within(), beyond ref) ---

FUNNEL_WITHIN_YAML = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: a
    event: signup
    cndt: {expr: "True"}
  right:
    type: spat
    name: b
    event: purchase
    cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""


def test_within_bounds_matches_and_state():
    """Row-offset within on the pure engine: matches whose span exceeds
    the bound disappear, and expired runs are pruned from live state."""
    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.query import Query
    from reflinkcep_spark.cep.runtime import MatchEngine, run_pattern

    q = Query.from_yaml(FUNNEL_WITHIN_YAML)
    stream = [("signup", {"id": 0})] + [
        ("view", {"id": i}) for i in range(1, 10)
    ] + [("purchase", {"id": 10})]

    assert len(run_pattern(q, stream)) == 1  # unbounded: matches
    assert len(run_pattern(q, stream, within=10)) == 1  # span == 10: kept
    assert len(run_pattern(q, stream, within=9)) == 0  # span 10 > 9: gone

    # State bound: with within=3 the signup-run dies after 3 events.
    engine = MatchEngine(compile_query(q), q.strategy, within=3)
    for ev in stream:
        engine.feed(*ev)
    # Only fresh/young runs survive; the long-expired signup run is gone.
    assert all(
        c.first is None or engine.pos - 1 - c.first <= 3
        for _, c in engine.runs
    )


def test_within_fastpath_equals_kernel(spark):
    """The NoSkip fast path with the span post-filter must emit exactly
    the kernel's within-pruned match set on real data."""
    from pyspark.sql import functions as F

    from reflinkcep_spark.cep.query import Query
    from reflinkcep_spark.operators import match_pattern
    from reflinkcep_spark.sources import load_table

    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    q = Query.from_yaml(FUNNEL_WITHIN_YAML)

    def run(fast):
        df = match_pattern(
            ev, q, order_by="event_id", partition_by="user_id",
            within=50, allow_fastpath=fast,
        ).select(
            "user_id",
            F.element_at("a", 1)["event_id"].alias("a_id"),
            F.element_at("b", 1)["event_id"].alias("b_id"),
        )
        return sorted(tuple(r) for r in df.collect())

    fast, kernel = run(True), run(False)
    assert fast == kernel
    assert fast  # the bound leaves some matches at sf0.001
    unbounded = match_pattern(
        ev, q, order_by="event_id", partition_by="user_id"
    ).count()
    assert len(fast) < unbounded  # and removes others


def test_engine_handles_more_than_64_states():
    """The ε-cycle guard is an integer bitmask; a 40-step chain
    compiles to >64 NFA states, so the mask must spill into Python
    big-int territory without losing any state bit (a fixed-width
    mask would alias states ≥64 and silently drop ε-paths)."""
    from reflinkcep_spark import Pattern, run_pattern
    from reflinkcep_spark.cep.compiler import compile_query

    p = Pattern.begin("s0", event="e", where="True")
    for i in range(1, 40):
        p = p.followed_by(f"s{i}", event="e", where="True")
    q = p.query(schema={"e": ["v"]})
    aut = compile_query(q)
    assert aut.n_states() > 64, aut.n_states()
    stream = [("e", {"v": i}) for i in range(40)]
    out = run_pattern(q, stream)
    # Exactly one full assignment of 40 events to 40 chain steps.
    assert len(out) == 1
    assert [c[0]["v"] for c in out[0].values()] == list(range(40))


def test_records_matches_to_dict_records():
    """The round-14 fast converter (operators.cep.records) must build
    dicts identical to pdf[cols].to_dict("records") for every value
    class the kernel ships: int64, float64 (incl. NaN), object strings
    (incl. None), bool, and datetime64 Timestamps — same keys, same
    value types, same boxing."""
    import math

    import pandas as pd

    from reflinkcep_spark.cep.keyed import records

    pdf = pd.DataFrame(
        {
            "i": pd.array([1, -2, 3], dtype="int64"),
            "f": [1.5, float("nan"), -0.0],
            "s": ["a", None, "c"],
            "b": [True, False, True],
            "t": pd.to_datetime(
                [
                    "2024-01-01 00:00:11.172425",
                    "2024-06-30 01:02:03.000000",
                    "2025-12-31 23:59:59.999999",
                ]
            ),
            "extra": [10, 20, 30],  # excluded by cols
        }
    )
    cols = ["i", "f", "s", "b", "t"]
    want = pdf[cols].to_dict("records")
    got = records(pdf, cols)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert list(g) == list(w)  # key order too
        for k in w:
            gv, wv = g[k], w[k]
            assert type(gv) is type(wv), (k, type(gv), type(wv))
            if isinstance(wv, float) and math.isnan(wv):
                assert math.isnan(gv)
            else:
                assert gv == wv
    # empty frame -> empty record list
    assert records(pdf.iloc[0:0], cols) == []


def test_frame_matches_list_of_dicts_constructor():
    """The round-14 output-side builder (operators.cep.frame) must
    produce frames identical to pd.DataFrame(rows, columns=cols) for
    the kernels' row shapes: full-key dicts, int/None bounds, list-of-
    dict capture cells, all-None capture columns, and the zero-row
    case (object-dtype empty, the list-of-dicts constructor's result)."""
    import pandas as pd

    from reflinkcep_spark.cep.keyed import frame

    cols = ["user_id", "match_seq", "start_ord", "end_ord", "a", "b"]
    rows = [
        {"user_id": 7, "match_seq": 0, "start_ord": 3, "end_ord": 9,
         "a": [{"event_id": 3, "value": 1.5}], "b": None},
        {"user_id": 7, "match_seq": 1, "start_ord": None, "end_ord": None,
         "a": [{"event_id": 5, "value": 2.0}, {"event_id": 6, "value": 0.5}],
         "b": None},
    ]
    want = pd.DataFrame(rows, columns=cols)
    got = frame(rows, cols)
    pd.testing.assert_frame_equal(got, want)
    # zero rows: identical empty frame whether or not a cache is passed
    want0 = pd.DataFrame([], columns=cols)
    empty = pd.DataFrame(columns=cols)
    pd.testing.assert_frame_equal(frame([], cols, empty), want0)
    pd.testing.assert_frame_equal(frame([], cols), want0)
    # the cached object is returned as-is (no copy per group)
    assert frame([], cols, empty) is empty
