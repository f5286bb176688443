"""MATCH_RECOGNIZE front end: parser, translation, and SQL:2016 match
selection semantics.

The translator is a thin compiler onto the audited AST + kernel, so the
tests split three ways: (1) pure `translate()` — clause parsing, AST
shape, error rails, no Spark; (2) the SQL selection layer against
hand-computed expectations on planted streams (greedy vs reluctant,
all four AFTER MATCH SKIP modes, the infinite-loop rail); (3) a
differential pin on real events data: a MATCH_RECOGNIZE spec whose
semantics an independent pandas reference can compute row-by-row.
"""

from __future__ import annotations

import pytest

from reflinkcep_spark.cep.match_recognize import (
    MatchRecognizeError,
    match_recognize,
    translate,
)

COLS = ["user_id", "event_id", "event_type", "value"]

ERROR_RUNS = """
  PARTITION BY user_id
  ORDER BY event_id
  MEASURES FIRST(E.event_id) AS first_error, LAST(E.event_id) AS last_error,
           COUNT(E.*) AS n_errors
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (E+)
  DEFINE E AS E.event_type = 'error'
"""


# --- translate(): pure, no Spark --------------------------------------


def test_translate_builds_strict_ast_and_greedy_default():
    t = translate(ERROR_RUNS, COLS)
    assert t["partition_by"] == "user_id"
    assert t["order_by"] == "event_id"
    assert t["skip"] == ("past_last", None)
    assert t["prefer"] == "longest"  # SQL default: greedy
    ps = t["query"].patseq
    assert ps["type"] == "lpat-inf"
    assert ps["loop"] == {"contiguity": "strict", "from": 1}
    # condition carries the SQL null guard (NULL rows never match)
    assert ps["cndt"]["expr"] == (
        "(event_type == event_type and event_type != None) "
        "and (event_type == 'error')"
    )
    assert t["query"].strategy == "NoSkip"
    assert t["measures"] == [
        ("first", "E", "event_id", "first_error"),
        ("last", "E", "event_id", "last_error"),
        ("count", "E", None, "n_errors"),
    ]


def test_translate_concatenation_quantifiers_and_wrapper():
    # measures avoid B/C on purpose: with TWO flexibly-quantified
    # variables, measuring one trips the round-14 divergence rail
    # (tested separately below)
    t = translate(
        """MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY event_id
          MEASURES A.event_id AS a_id
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B{2,4} C?)
          DEFINE A AS A.value > 10, C AS C.event_type <> 'error'
        )""",
        COLS,
    )
    ps = t["query"].patseq
    # ((A . B{2,4}) . C{0,1}) — left-fold strict combine
    assert ps["type"] == "combine" and ps["contiguity"] == "strict"
    left, right = ps["left"], ps["right"]
    assert right["type"] == "lpat" and right["loop"]["from"] == 0
    assert right["loop"]["to"] == 1
    assert right["cndt"]["expr"] == (
        "(event_type == event_type and event_type != None) "
        "and (event_type != 'error')"
    )
    assert left["type"] == "combine"
    assert left["left"]["type"] == "spat"
    assert left["left"]["cndt"]["expr"] == (
        "(value == value and value != None) and (value > 10)"
    )
    assert left["right"]["loop"] == {"contiguity": "strict", "from": 2, "to": 4}
    # B is undefined → matches any row
    assert left["right"]["cndt"]["expr"] == "True"
    assert t["skip"] == ("to_next", None)


def test_translate_reluctant_and_skip_to_var():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES S.event_id AS s_id
           AFTER MATCH SKIP TO LAST P
           PATTERN (S G*? P) DEFINE S AS S.value > 1, P AS P.value > 2""",
        COLS,
    )
    assert t["prefer"] == "shortest"
    assert t["skip"] == ("to_last", "P")


@pytest.mark.parametrize(
    "spec, msg",
    [
        ("ORDER BY e MEASURES A.x AS x PATTERN (A) DEFINE A AS A.x > 1",
         "missing PARTITION"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A |)",
         "empty alternation"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN ((A B))",
         "grouping"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A A)",
         "appears twice"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A+ B*?)",
         "mixing greedy and reluctant"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A) "
         "DEFINE A AS B.x > 1", "not in this subset"),
        ("PARTITION BY u ORDER BY e MEASURES Z.x AS x PATTERN (A)",
         "unknown variable"),
        ("PARTITION BY u ORDER BY e MEASURES A.nope AS x PATTERN (A)",
         "unknown column"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x "
         "AFTER MATCH SKIP TO FIRST Z PATTERN (A)", "unknown variable"),
        ("PARTITION BY u, v ORDER BY e MEASURES A.x AS x PATTERN (A)",
         "exactly one plain column"),
        ("PARTITION BY u ORDER BY e DESC MEASURES A.x AS x PATTERN (A)",
         "DESC"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A) "
         "DEFINE A AS A.x > 1, A AS A.x > 2", "defined twice"),
    ],
)
def test_translate_error_rails(spec, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(spec, ["u", "v", "e", "x"])


def test_define_sandbox_rejects_out_of_language():
    with pytest.raises(MatchRecognizeError, match="sub-language"):
        translate(
            "PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A) "
            "DEFINE A AS abs(A.x) > 1",
            ["u", "e", "x"],
        )


# --- selection semantics on planted streams ----------------------------


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        # user 1: e e p e e e
        (1, 0, "error", 1.0), (1, 1, "error", 2.0), (1, 2, "purchase", 3.0),
        (1, 3, "error", 4.0), (1, 4, "error", 5.0), (1, 5, "error", 6.0),
        # user 2: p e p
        (2, 10, "purchase", 1.0), (2, 11, "error", 2.0), (2, 12, "purchase", 3.0),
    ]
    return spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )


def test_greedy_plus_past_last_row_maximal_runs(planted):
    got = sorted(tuple(r) for r in match_recognize(planted, ERROR_RUNS).collect())
    # maximal non-overlapping error runs (SQL greedy), one row per match
    assert got == [
        (1, 0, 0, 1, 2),
        (1, 1, 3, 5, 3),
        (2, 0, 11, 11, 1),
    ]


def test_reluctant_plus_past_last_row_unit_runs(planted):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            planted,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
               PATTERN (E+?) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    # reluctant: shortest per start; PAST LAST ROW chains unit matches
    assert got == [
        (1, 0, 0, 1), (1, 1, 1, 1), (1, 2, 3, 1), (1, 3, 4, 1), (1, 4, 5, 1),
        (2, 0, 11, 1),
    ]


def test_filler_var_skip_to_next_row(planted):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            planted,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES S.event_id AS s_id, P.event_id AS p_id, COUNT(G.*) AS gap
               AFTER MATCH SKIP TO NEXT ROW
               PATTERN (S G*? P)
               DEFINE S AS S.event_type = 'error',
                      P AS P.event_type = 'purchase'""",
        ).collect()
    )
    # every error start → its NEXT purchase (reluctant filler), overlaps OK
    assert got == [(1, 0, 0, 2, 1), (1, 1, 1, 2, 0), (2, 0, 11, 12, 0)]


def test_skip_to_last_var_resumes_at_that_row(spark):
    # a a a a: PATTERN (A B) both undefined → every adjacent pair.
    # SKIP TO LAST B resumes AT the pair's second row: 01, 12, 23.
    df = spark.createDataFrame(
        [(1, i, "x", 0.0) for i in range(4)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES A.event_id AS a_id, B.event_id AS b_id
               AFTER MATCH SKIP TO LAST B
               PATTERN (A B)""",
        ).collect()
    )
    assert got == [(1, 0, 0, 1), (1, 1, 1, 2), (1, 2, 2, 3)]


def test_skip_to_first_self_start_raises(spark):
    # SKIP TO FIRST A resolves to the match's own start → SQL:2016
    # infinite-loop rule, surfaced as a job failure.
    df = spark.createDataFrame(
        [(1, 0, "x", 0.0), (1, 1, "x", 0.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES A.event_id AS a_id
           AFTER MATCH SKIP TO FIRST A
           PATTERN (A B)""",
    )
    with pytest.raises(Exception, match="infinite loop"):
        out.collect()


def test_optional_tail_and_bounded_quantifier(spark):
    # e e e p: A{2} C? — greedy C? takes the third error after [0,1];
    # PAST LAST ROW then matches [2,3]? no: A{2} needs two errors, row 3
    # is a purchase → only [0,1]+[2] and nothing after.
    df = spark.createDataFrame(
        [(1, 0, "error", 0.0), (1, 1, "error", 0.0), (1, 2, "error", 0.0),
         (1, 3, "purchase", 0.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(A.event_id) AS a0, LAST(A.event_id) AS a1,
                        COUNT(C.*) AS nc
               PATTERN (A{2} C?)
               DEFINE A AS A.event_type = 'error',
                      C AS C.event_type = 'error'""",
        ).collect()
    )
    assert got == [(1, 0, 0, 1, 1)]


# --- differential pin on real events data ------------------------------


def test_error_runs_match_pandas_reference(spark):
    """MATCH_RECOGNIZE (E+ greedy, SKIP PAST LAST ROW) over the real
    events table equals an independent row-by-row pandas scan of
    maximal error runs per user."""
    import pandas as pd

    from tests.conftest import SF_DIR

    got = sorted(
        tuple(r)
        for r in match_recognize(
            spark.read.parquet(f"{SF_DIR}/events.parquet").select(
                "user_id", "event_id", "event_type", "value"
            ),
            ERROR_RUNS,
        ).collect()
    )

    pdf = pd.read_parquet(f"{SF_DIR}/events.parquet")[
        ["user_id", "event_id", "event_type"]
    ].sort_values(["user_id", "event_id"])
    want = []
    for uid, g in pdf.groupby("user_id"):
        run = []
        seqs = {}
        for _, row in g.iterrows():
            if row.event_type == "error":
                run.append(int(row.event_id))
            else:
                if run:
                    want.append((int(uid), run[0], run[-1], len(run)))
                run = []
        if run:
            want.append((int(uid), run[0], run[-1], len(run)))
    # assign per-user match_seq in start order (kernel emission order)
    bykey: dict = {}
    want2 = []
    for uid, f, l, n in sorted(want):
        s = bykey.get(uid, 0)
        bykey[uid] = s + 1
        want2.append((uid, s, f, l, n))
    assert got == sorted(want2)
    assert len(got) > 50  # discriminating on the corpus


def test_measure_aggregates_sum_min_max(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 2.5), (1, 1, "error", 4.0), (1, 2, "purchase", 9.0),
         (1, 3, "error", 1.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES SUM(E.value) AS sv, MIN(E.value) AS mn,
                        MAX(E.event_id) AS mx, SUM(E.event_id) AS si
               PATTERN (E+) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    # greedy runs: [0,1] (values 2.5,4.0) and [3] (1.0)
    assert got == [(1, 0, 6.5, 2.5, 1, 1), (1, 1, 1.0, 1.0, 3, 3)]
    # SUM over an integral column stays integral (BIGINT)
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES SUM(E.event_id) AS si PATTERN (E+)
           DEFINE E AS E.event_type = 'error'""",
    )
    assert dict(out.dtypes)["si"] == "bigint"


def test_measure_aggregates_null_over_empty_optional(spark):
    # C? captures nothing → SUM/MIN/MAX NULL, COUNT 0 (SQL semantics)
    df = spark.createDataFrame(
        [(1, 0, "error", 2.0), (1, 1, "purchase", 5.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    rows = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES A.event_id AS a_id, SUM(C.value) AS sc,
                    MIN(C.value) AS mc, COUNT(C.*) AS nc
           PATTERN (A C?)
           DEFINE A AS A.event_type = 'error',
                  C AS C.event_type = 'click'""",
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_id"], r["sc"], r["mc"], r["nc"]) == (0, None, None, 0)


def test_define_name_rails_partition_key_and_unknown_column():
    with pytest.raises(MatchRecognizeError, match="PARTITION BY key"):
        translate(
            "PARTITION BY u ORDER BY e MEASURES A.x AS ax PATTERN (A) "
            "DEFINE A AS A.u > 1",
            ["u", "e", "x"],
        )
    with pytest.raises(MatchRecognizeError, match="unknown column"):
        translate(
            "PARTITION BY u ORDER BY e MEASURES A.x AS ax PATTERN (A) "
            "DEFINE A AS A.x > nope",
            ["u", "e", "x"],
        )


def test_all_rows_per_match_classifier_and_final_measures(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 1.0), (1, 1, "error", 2.0), (1, 2, "purchase", 9.0),
         (1, 3, "click", 0.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(E.*) AS ne, FINAL SUM(E.value) AS sv
               ALL ROWS PER MATCH
               PATTERN (E+ P)
               DEFINE E AS E.event_type = 'error',
                      P AS P.event_type = 'purchase'""",
        ).collect()
    )
    # one match: E=[0,1], P=[2] → three output rows in order, each
    # carrying classifier + all event columns + measures: `ne` is
    # RUNNING (the ALL ROWS default, SQL:2016 — errors seen so far),
    # `sv` is explicitly FINAL (the completed match's sum, repeated)
    assert got == [
        (1, 0, "E", 0, "error", 1.0, 1, 3.0),
        (1, 0, "E", 1, "error", 2.0, 2, 3.0),
        (1, 0, "P", 2, "purchase", 9.0, 2, 3.0),
    ]


def test_all_rows_per_match_optional_var_contributes_no_rows(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 1.0), (1, 1, "purchase", 9.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(C.*) AS nc
               ALL ROWS PER MATCH
               PATTERN (A C? P)
               DEFINE A AS A.event_type = 'error',
                      C AS C.event_type = 'click',
                      P AS P.event_type = 'purchase'""",
        ).collect()
    )
    assert got == [(1, 0, "A", 0, "error", 1.0, 0),
                   (1, 0, "P", 1, "purchase", 9.0, 0)]


def test_measure_mode_resolution():
    # ONE ROW PER MATCH: RUNNING ≡ FINAL (the one output row is the
    # completed match); ALL ROWS PER MATCH: the SQL default is RUNNING
    t = translate(
        "PARTITION BY u ORDER BY e MEASURES RUNNING SUM(A.x) AS s "
        "PATTERN (A+) DEFINE A AS A.x > 0",
        ["u", "e", "x"],
    )
    assert t["measure_modes"] == {"s": "final"}
    t = translate(
        "PARTITION BY u ORDER BY e "
        "MEASURES SUM(A.x) AS s, FINAL SUM(A.x) AS sf "
        "ALL ROWS PER MATCH PATTERN (A+) DEFINE A AS A.x > 0",
        ["u", "e", "x"],
    )
    assert t["measure_modes"] == {"s": "running", "sf": "final"}


def test_one_and_all_rows_both_given_raise():
    with pytest.raises(MatchRecognizeError, match="both ONE"):
        translate(
            "PARTITION BY u ORDER BY e MEASURES A.x AS ax "
            "ONE ROW PER MATCH ALL ROWS PER MATCH PATTERN (A)",
            ["u", "e", "x"],
        )


# --- review-pass hardening: NULL semantics, parser rails, decimal SUM --


def test_null_rows_never_match_referencing_conditions(spark):
    # SQL rule: a predicate over NULL is never TRUE.  The NULL row can
    # neither match E (references event_type) nor crash an ordered
    # comparison; the undefined filler G still matches it.
    df = spark.createDataFrame(
        [(1, 0, "error", 1.0), (1, 1, None, None), (1, 2, "error", 2.0),
         (1, 3, "purchase", 9.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
               PATTERN (E+) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    # the NULL row SPLITS the error run: two unit runs, not one of 3
    assert got == [(1, 0, 0, 1), (1, 1, 2, 1)]

    # ordered comparison over the NULL value column must not TypeError
    got2 = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(H.event_id) AS fh
               PATTERN (H) DEFINE H AS H.value > 1.5""",
        ).collect()
    )
    assert got2 == [(1, 0, 2), (1, 1, 3)]

    # undefined variables match ANY row, NULLs included
    got3 = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES S.event_id AS s_id, COUNT(G.*) AS gap, P.event_id AS p_id
               PATTERN (S G*? P)
               DEFINE S AS S.event_type = 'error',
                      P AS P.event_type = 'purchase'""",
        ).collect()
    )
    # start 0: gap spans the NULL row and the second error
    assert got3 == [(1, 0, 0, 2, 3)]


@pytest.mark.parametrize(
    "spec, msg",
    [
        ("PARTITION BY u ORDER BY e MEASURES COUNT AS c PATTERN (A)",
         "unsupported measure"),
        ("PARTITION BY u ORDER BY e MEASURES FINAL AS c PATTERN (A)",
         "empty measure"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A{0} B)",
         "always-empty"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x PATTERN (A{3,2})",
         "upper bound below"),
    ],
)
def test_parser_rails_raise_match_recognize_error(spec, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(spec, ["u", "e", "x"])


def test_sum_over_decimal_stays_exact(spark):
    df = spark.createDataFrame(
        [(1, 0, "error"), (1, 1, "error"), (1, 2, "purchase")],
        "user_id int, event_id int, event_type string",
    ).selectExpr(
        "user_id", "event_id", "event_type",
        "cast(0.10 as decimal(18,2)) AS amount",
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES SUM(E.amount) AS total
           PATTERN (E+) DEFINE E AS E.event_type = 'error'""",
    )
    assert dict(out.dtypes)["total"] == "decimal(38,2)"
    from decimal import Decimal

    assert [r["total"] for r in out.collect()] == [Decimal("0.20")]


# --- second review pass: alias rails, truncate sentinel in ALL ROWS ----


@pytest.mark.parametrize(
    "spec, msg",
    [
        ("PARTITION BY u ORDER BY e MEASURES A.x AS match_seq PATTERN (A)",
         "collides with an output column"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS u PATTERN (A)",
         "collides with an output column"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS m, A.e AS m PATTERN (A)",
         "duplicate measure alias"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS x "
         "ALL ROWS PER MATCH PATTERN (A)",
         "collides with an output column"),  # alias == event column
        ("PARTITION BY u ORDER BY e MEASURES FIRST(A.u) AS pu PATTERN (A)",
         "PARTITION BY column"),
    ],
)
def test_measure_alias_and_partition_rails(spec, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(spec, ["u", "e", "x"])


def test_all_rows_truncate_sentinel_survives(spark):
    # a hot key trips max_active_runs under truncate: the sentinel row
    # (match_seq = -1) must survive the ALL ROWS explode as a NULL row,
    # not vanish and make the partial result look complete.
    rows = [(1, i, "error", 1.0) for i in range(60)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(E.*) AS ne
           ALL ROWS PER MATCH
           PATTERN (E+) DEFINE E AS E.event_type = 'error'""",
        max_active_runs=10,
        on_limit="truncate",
    ).collect()
    sentinels = [r for r in out if r["match_seq"] == -1]
    assert len(sentinels) == 1
    s = sentinels[0]
    assert s["classifier"] is None and s["event_id"] is None
    assert s["ne"] is None


@pytest.mark.parametrize("case", ["error-runs", "prev"])
def test_match_recognize_on_bucketed_table_is_zero_exchange(spark, tmp_path, case):
    """The 100-TB composition: MATCH_RECOGNIZE over an event log
    bucketed on the partition key runs WITHOUT ANY shuffle — the SQL
    front end inherits the kernel's pre_partitioned path (Scan → Sort →
    Window → MapInPandas), so a standing bucketed log serves SQL row-
    pattern queries shuffle-free, exactly like the YAML surface.  A
    PREV/NEXT window reuses the bucket clustering and the kernel's sort."""
    import re

    from reflinkcep_spark.sinks import write_bucketed

    rows = [(u, i, "error" if i % 3 else "purchase", float(i))
            for u in range(8) for i in range(40)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )
    define = {
        "error-runs": "PATTERN (E+) DEFINE E AS E.event_type = 'error'",
        "prev": "PATTERN (E) DEFINE E AS PREV(event_type) = 'purchase'",
    }[case]
    write_bucketed(df, "t_mr_bucketed", "user_id", buckets=8,
                   path=str(tmp_path / "mr"))
    try:
        out = match_recognize(
            spark.table("t_mr_bucketed"),
            f"""PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
               {define}""",
            pre_partitioned=True,
        )
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert len(re.findall(r"(?<!Broadcast)Exchange", plan)) == 0, plan
        assert len(re.findall(r"^\(\d+\) Sort", plan, re.M)) == 1, plan
        assert "MapInPandas" in plan
        # and the result is still right, against a replay per user
        got = sorted(tuple(r) for r in out.collect())
        want = []
        for u in range(8):
            runs, cur = [], []
            for i in range(40):
                if case == "prev":
                    # one-row matches right after a purchase; the first
                    # row has no PREV (NULL), so it never matches
                    if i and (i - 1) % 3 == 0:
                        runs.append([i])
                elif i % 3:
                    cur.append(i)
                else:
                    if cur: runs.append(cur)
                    cur = []
            if cur: runs.append(cur)
            for seq, run in enumerate(runs):
                want.append((u, seq, run[0], len(run)))
        assert got == sorted(want)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mr_bucketed")


# --- round-14: parser rails (clause shapes, reserved names, rails) ------


@pytest.mark.parametrize(
    "spec,msg",
    [
        # a measure alias named like a clause keyword must give the
        # clear collision error, not hijack clause splitting
        ("PARTITION BY u ORDER BY e MEASURES A.x AS ALL PATTERN (A)",
         "collides with a clause keyword"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS ORDER PATTERN (A)",
         "collides with a clause keyword"),
        # internal projection names are reserved
        ("PARTITION BY u ORDER BY e MEASURES A.x AS __r PATTERN (A)",
         "reserved"),
        ("PARTITION BY u ORDER BY e MEASURES A.x AS __o PATTERN (A)",
         "reserved"),
        # pattern whose every variable can match zero rows: SQL emits
        # an empty match per row — reject, don't silently emit nothing
        ("PARTITION BY u ORDER BY e MEASURES COUNT(A.*) AS n "
         "PATTERN (A* B?)", "can match zero rows"),
        # pattern variables may not use the internal register prefix
        ("PARTITION BY u ORDER BY e MEASURES A.x AS ax "
         "PATTERN (A __B)", "reserved"),
    ],
)
def test_round14_parser_rails(spec, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(spec, ["u", "v", "e", "x"])


def test_flexible_vars_reported_and_multi_quantifier_allowed():
    # selection is exact lexicographic since round 14, so measuring a
    # flexibly-quantified variable among several is fine in batch
    from reflinkcep_spark.cep.keyed import flexible_vars

    t = translate(
        "PARTITION BY u ORDER BY e MEASURES COUNT(B.*) AS nb "
        "PATTERN (A B{2,4} C?)",
        ["u", "e", "x"],
    )
    assert flexible_vars(t["query"].patseq) == ["B", "C"]
    t = translate(
        "PARTITION BY u ORDER BY e MEASURES COUNT(A.*) AS na, "
        "SUM(B.x) AS sb PATTERN (A{2} B{3} C+) DEFINE C AS C.x > 0",
        ["u", "e", "x"],
    )
    # fixed extents are deterministic
    assert flexible_vars(t["query"].patseq) == ["C"]


# --- round-14: DEFINE navigation — translation -------------------------


def test_translate_prev_builds_lag_column_and_guard():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES LAST(B.value) AS bv
           PATTERN (A B+)
           DEFINE B AS PREV(value) < B.value""",
        COLS,
    )
    assert t["nav_columns"] == {"__mr_prev1_value": ("prev", "value", 1)}
    cond = t["query"].patseq["right"]["cndt"]["expr"]
    # both the lag column and the current column are null-guarded
    assert "__mr_prev1_value == __mr_prev1_value" in cond
    assert "(__mr_prev1_value < value)" in cond


def test_translate_prev_offset_and_next():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES A.value AS av PATTERN (A)
           DEFINE A AS PREV(value, 2) < NEXT(A.value)""",
        COLS,
    )
    assert t["nav_columns"] == {
        "__mr_prev2_value": ("prev", "value", 2),
        "__mr_next1_value": ("next", "value", 1),
    }


def test_translate_last_self_registers():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(B.*) AS nb PATTERN (A B+)
           DEFINE B AS B.value > LAST(B.value, 1)""",
        COLS,
    )
    regs = t["query"].patseq["right"]["variables"]
    # self LAST offset 1 = the previously-taken row = register l0
    assert set(regs) == {"__mr_l0_B_value"}
    assert regs["__mr_l0_B_value"] == {"initial": None, "update": "value"}
    cond = t["query"].patseq["right"]["cndt"]["expr"]
    assert "__mr_l0_B_value != None" in cond


def test_translate_first_cross_variable_registers():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES B.value AS bv PATTERN (A+ B)
           DEFINE A AS A.value > 0, B AS B.value > FIRST(A.value)""",
        COLS,
    )
    regs = t["query"].patseq["left"]["variables"]
    assert set(regs) == {"__mr_n_A", "__mr_f0_A_value"}
    assert regs["__mr_n_A"] == {"initial": 0, "update": "__mr_n_A + 1"}
    assert regs["__mr_f0_A_value"]["update"] == (
        "(value if __mr_n_A == 0 else __mr_f0_A_value)"
    )
    # B's leaf carries no registers (it only READS A's)
    assert "variables" not in t["query"].patseq["right"]


@pytest.mark.parametrize(
    "define,msg",
    [
        ("B AS PREV(A.value) < B.value", "variable being defined"),
        ("B AS FIRST(value) > 1", "needs the pattern variable"),
        ("B AS LAST(Z.value) > 1", "unknown.*pattern variable"),
        ("B AS LAST(B.value, 9) > 1", "exceeds the supported"),
        ("B AS PREV(nope) > 1", "unknown column"),
        ("B AS PREV(user_id) > 1", "PARTITION BY key"),
        ("B AS PREV(value", "parenthes"),  # tokenizer catches it first
        ("B AS SUM(B.value) > 1", "sub-language"),
    ],
)
def test_navigation_error_rails(define, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(
            f"""PARTITION BY user_id ORDER BY event_id
                MEASURES A.value AS av PATTERN (A B)
                DEFINE {define}""",
            COLS,
        )


# --- round-14: DEFINE navigation — execution on planted streams --------


def _mk(spark, values):
    return spark.createDataFrame(
        [(1, i, "row", float(v)) for i, v in enumerate(values)],
        "user_id int, event_id int, event_type string, value double",
    )


def test_prev_ascending_runs(spark):
    """PATTERN (A B+), B AS PREV(value) < B.value = maximal ascending
    runs — the classic MATCH_RECOGNIZE stock-ascent shape."""
    got = sorted(
        tuple(r)
        for r in match_recognize(
            _mk(spark, [5, 3, 4, 6, 2, 7]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES A.value AS start_v, LAST(B.value) AS end_v,
                        COUNT(B.*) AS n_up
               PATTERN (A B+)
               DEFINE B AS PREV(value) < B.value""",
        ).collect()
    )
    assert got == [(1, 0, 3.0, 6.0, 2), (1, 1, 2.0, 7.0, 1)]


def test_prev_null_at_partition_start_never_matches(spark):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            _mk(spark, [1, 3, 2]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES B.event_id AS eid PATTERN (B)
               DEFINE B AS PREV(value) < B.value""",
        ).collect()
    )
    assert got == [(1, 0, 1)]  # only id 1 (1<3); id 0 has NULL PREV


def test_next_lead_navigation(spark):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            _mk(spark, [1, 3, 2]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES B.event_id AS eid PATTERN (B)
               DEFINE B AS NEXT(value) > B.value""",
        ).collect()
    )
    assert got == [(1, 0, 0)]  # id 0 (3>1); id 1 no (2<3); id 2 NULL NEXT


def test_first_self_running_semantics(spark):
    """B AS B.value >= FIRST(B.value): the first B row compares against
    itself (RUNNING semantics include the current row)."""
    got = sorted(
        tuple(r)
        for r in match_recognize(
            _mk(spark, [1, 5, 4, 6, 2]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES LAST(B.value) AS bv, COUNT(B.*) AS nb
               PATTERN (A B{1,3})
               DEFINE B AS B.value >= FIRST(B.value)""",
        ).collect()
    )
    # start 0: B greedy takes 5,4? no — 4 >= 5 fails; B=[5] only?  5>=5
    # ok, 4>=5 no → B=[5].  start 2 (after skip past 1): A=4, B=[6],
    # 2>=6 no.  start 4: A=2, no B row left.
    assert got == [(1, 0, 5.0, 1), (1, 1, 6.0, 1)]


def test_last_cross_variable(spark):
    """B reads A's captured value: B AS B.value > LAST(A.value)."""
    got = sorted(
        tuple(r)
        for r in match_recognize(
            _mk(spark, [2, 5, 7, 3]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES LAST(A.value) AS av, B.value AS bv
               PATTERN (A B)
               DEFINE B AS B.value > LAST(A.value)""",
        ).collect()
    )
    assert got == [(1, 0, 2.0, 5.0)]  # [2,5]; then start 2: 3 > 7 fails


def test_forward_variable_navigation_is_null(spark):
    """A references LAST(B.value) with B AFTER A in the pattern: B is
    unmapped while A is evaluated → NULL → A never matches (SQL)."""
    got = match_recognize(
        _mk(spark, [1, 2, 3]),
        """PARTITION BY user_id ORDER BY event_id
           MEASURES A.value AS av PATTERN (A B)
           DEFINE A AS A.value > LAST(B.value)""",
    ).collect()
    assert got == []


@pytest.mark.parametrize("within", [False, True], ids=["prev", "prev-within"])
def test_navigation_plan_has_single_exchange(spark, within):
    """The lag window rides the kernel's key partitioning: Exchange →
    Sort → Window → MapInPandas, ONE exchange total — the
    same count as a navigation-free MATCH_RECOGNIZE.  Under WITHIN
    INTERVAL the kernel also ships the ``__mr_stamp`` column, and the
    window and the kernel still sort by one rule."""
    import re as _re

    from pyspark.sql import functions as F

    df, kw, tail = _mk(spark, [5, 3, 4, 6, 2, 7]), {}, ""
    if within:
        df = df.withColumn("ts", F.timestamp_seconds("event_id"))
        kw, tail = {"time_col": "ts"}, " WITHIN INTERVAL '10' SECOND"
    out = match_recognize(
        df,
        f"""PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(B.*) AS n PATTERN (A B+){tail}
           DEFINE B AS PREV(value) < B.value""",
        **kw,
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted mode prints each node in the tree AND a detail section —
    # count the detail headers, one per physical node
    assert len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M)) == 1, plan
    # the lag window and the kernel's row_number() share one sort
    assert len(_re.findall(r"^\(\d+\) Sort", plan, _re.M)) == 1, plan
    assert "MapInPandas" in plan and "Window" in plan


def test_all_rows_per_match_hides_navigation_columns(spark):
    out = match_recognize(
        _mk(spark, [5, 3, 4]),
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(B.*) AS n
           ALL ROWS PER MATCH
           PATTERN (A B+)
           DEFINE B AS PREV(value) < B.value""",
    )
    assert [c for c in out.columns if c.startswith("__mr_")] == []
    rows = sorted(tuple(r) for r in out.collect())
    # one match [id1=3, id2=4]: COUNT(B.*) is RUNNING (the ALL ROWS
    # default) — 0 on the A row, 1 on the B row
    assert rows == [
        (1, 0, "A", 1, "row", 3.0, 0),
        (1, 0, "B", 2, "row", 4.0, 1),
    ]


def test_prev_over_tied_order_values_is_deterministic(spark):
    """Tied ORDER BY values do not make physical adjacency depend on
    the input's layout: the per-key order rule breaks the tie by the
    other columns (here ``value``), in the lag window and the kernel
    alike, so PREV reads the same row in every layout."""
    rows = [(1, 0, "row", 1.0), (1, 1, "row", 2.0), (1, 1, "row", 3.0)]
    ddl = "user_id int, event_id int, event_type string, value double"
    layouts = [
        spark.createDataFrame(rows, ddl),
        spark.createDataFrame(rows[::-1], ddl).repartition(3),
    ]
    got = [
        sorted(tuple(r) for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(B.*) AS n PATTERN (A B+)
               DEFINE B AS PREV(value) < B.value""",
        ).collect())
        for df in layouts
    ]
    # value 1.0, 2.0, 3.0 in rule order: A, then two rising B rows
    assert got == [[(1, 0, 2)], [(1, 0, 2)]]


def test_reserved_prefix_input_column_rejected_for_register_nav():
    """An input column spelled like a navigation register would shadow
    the per-run state through the kernel's ChainMap — rejected at
    translate time for LOGICAL navigation too (not just lag/lead), so
    the streaming surface is covered as well."""
    with pytest.raises(MatchRecognizeError, match="__mr_"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(B.*) AS n PATTERN (A B+)
               DEFINE B AS B.value > LAST(B.value, 1)""",
            COLS + ["__mr_l0_B_value"],
        )


def test_all_rows_running_measures_full_matrix(spark):
    """RUNNING semantics per output row (the SQL:2016 ALL ROWS
    default): COUNT counts rows mapped so far (0 before the variable's
    first row), SUM/MIN/MAX aggregate the prefix, FIRST/LAST are NULL
    while the variable is unmapped — all hand-computed."""
    df = spark.createDataFrame(
        [(1, 0, "error", 4.0), (1, 1, "error", 1.0), (1, 2, "purchase", 9.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(E.*) AS ne, SUM(E.value) AS se,
                        MIN(E.value) AS mne, MAX(E.value) AS mxe,
                        FIRST(P.value) AS fp, LAST(E.event_id) AS le
               ALL ROWS PER MATCH
               PATTERN (E+ P)
               DEFINE E AS E.event_type = 'error',
                      P AS P.event_type = 'purchase'""",
        ).sort("event_id").collect()
    ]
    assert got == [
        # row E@0: one E so far; P unmapped → fp NULL
        (1, 0, "E", 0, "error", 4.0, 1, 4.0, 4.0, 4.0, None, 0),
        # row E@1: both Es; running MIN drops to 1.0
        (1, 0, "E", 1, "error", 1.0, 2, 5.0, 1.0, 4.0, None, 1),
        # row P@2: P now mapped; E aggregates unchanged
        (1, 0, "P", 2, "purchase", 9.0, 2, 5.0, 1.0, 4.0, 9.0, 1),
    ]


def test_all_rows_final_keyword_overrides_running_default(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 4.0), (1, 1, "error", 1.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FINAL COUNT(E.*) AS ne
               ALL ROWS PER MATCH
               PATTERN (E{2})
               DEFINE E AS E.event_type = 'error'""",
        ).sort("event_id").collect()
    ]
    assert got == [
        (1, 0, "E", 0, "error", 4.0, 2),
        (1, 0, "E", 1, "error", 1.0, 2),
    ]


def test_one_row_running_equals_final(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 4.0), (1, 1, "error", 1.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    spec = """PARTITION BY user_id ORDER BY event_id
              MEASURES {kw}SUM(E.value) AS se
              PATTERN (E+) DEFINE E AS E.event_type = 'error'"""
    a = sorted(tuple(r) for r in match_recognize(df, spec.format(kw="RUNNING ")).collect())
    b = sorted(tuple(r) for r in match_recognize(df, spec.format(kw="FINAL ")).collect())
    c = sorted(tuple(r) for r in match_recognize(df, spec.format(kw="")).collect())
    assert a == b == c == [(1, 0, 5.0)]


# --- round-14: SQL:2016 lexicographic selection preference --------------


def test_lexicographic_greedy_prefers_leftmost_quantifier(spark):
    """PATTERN (A+ B+) where both (len_A, len_B) = (2, 1) and (1, 2)
    are feasible: SQL:2016 maximizes A FIRST → (2, 1).  The previous
    longest-overall-by-end approximation could not distinguish these
    (both end on the same row); this pins the exact preference."""
    df = spark.createDataFrame(
        # A := value < 10, B := value > 5 — rows 4, 7, 20: row 7
        # satisfies BOTH, so A can take [4, 7] (B = [20]) or [4]
        # (B = [7, 20])
        [(1, 0, "row", 4.0), (1, 1, "row", 7.0), (1, 2, "row", 20.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb,
                        FIRST(B.value) AS b0
               PATTERN (A+ B+)
               DEFINE A AS A.value < 10, B AS B.value > 5""",
        ).collect()
    ]
    assert got == [(1, 0, 2, 1, 20.0)]


def test_lexicographic_reluctant_minimizes_leftmost_first(spark):
    """Reluctant twin: PATTERN (A+? B+?) with the same feasible set —
    SQL minimizes A first → (1, 2)."""
    df = spark.createDataFrame(
        [(1, 0, "row", 4.0), (1, 1, "row", 7.0), (1, 2, "row", 20.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = [
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN (A+? B{2}?)
               DEFINE A AS A.value < 10, B AS B.value > 5""",
        ).collect()
    ]
    # B{2} is fixed; reluctant A+? takes the minimum (1 row: [4]),
    # leaving B = [7, 20]
    assert got == [(1, 0, 1, 2)]


def test_streaming_mr_rejects_multiple_flexible_vars(spark):
    import __spark_entry__ as entrymod
    from reflinkcep_spark.cep.match_recognize import match_recognize_stream

    from tests.conftest import SF_DIR

    stream = entrymod._stream_events(spark, SF_DIR).select(
        "user_id", "event_id", "event_type", "value"
    )
    with pytest.raises(MatchRecognizeError, match="at most one flexibly-quantified variable"):
        match_recognize_stream(
            stream,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(G.*) AS n
               AFTER MATCH SKIP TO NEXT ROW
               PATTERN (S G*? P*?)
               DEFINE S AS S.event_type = 'signup'""",
        )


def test_stream_kernel_rejects_two_flexible_vars(spark):
    """The stream kernel itself refuses SQL selection over two
    flexibly-quantified variables: its first-completing candidate is
    not the batch's lexicographic preference (tests/test_keyed.py)."""
    import __spark_entry__ as entrymod
    from reflinkcep_spark.streaming.cep import match_pattern_stream

    from tests.conftest import SF_DIR

    stream = entrymod._stream_events(spark, SF_DIR).select(
        "user_id", "event_id", "value"
    )
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(A.*) AS na AFTER MATCH SKIP TO NEXT ROW
           PATTERN (A{1,3}? B{1,3}? C)
           DEFINE A AS A.value <= 2, B AS B.value >= 2, C AS C.value = 9""",
        ["user_id", "event_id", "value"],
    )
    with pytest.raises(ValueError, match=r"flexibly-quantified variable \(got \['A', 'B'\]\)"):
        match_pattern_stream(
            stream, t["query"], order_by="event_id", partition_by="user_id",
            type_col=None, sql_skip=("to_next", None), sql_prefer="shortest",
        )


def test_sql_skip_kernel_boundary_validation(spark):
    """match_pattern(sql_skip=...) with a pattern outside the
    MATCH_RECOGNIZE subset (relaxed contiguity / repeated variables /
    group nodes) must raise at plan time — the lexicographic length
    key is only meaningful for flat strict unique-variable patterns."""
    from reflinkcep_spark import Query
    from reflinkcep_spark.operators import match_pattern

    df = spark.createDataFrame(
        [(1, 0, "e", 1.0)], "user_id int, id int, t string, v double"
    )
    relaxed = Query.from_dict({
        "patseq": {
            "type": "combine", "contiguity": "relaxed",
            "left": {"type": "spat", "name": "a", "event": "e",
                     "cndt": {"expr": "v > 0"}},
            "right": {"type": "spat", "name": "b", "event": "e",
                      "cndt": {"expr": "v > 0"}},
        },
        "context": {"schema": {"e": ["id", "v"]}, "strategy": "NoSkip"},
    })
    with pytest.raises(ValueError, match="STRICT contiguity"):
        match_pattern(
            df, relaxed, order_by="id", partition_by="user_id",
            type_col="t", sql_skip=("past_last", None),
        )


def test_match_recognize_composes_with_within_kwargs(spark):
    """Flink SQL's `PATTERN (...) WITHIN INTERVAL` semantics are
    available through the kernel kwargs (`within` / `within_col` pass
    through `match_recognize(**kernel_kwargs)`): over-long candidates
    are pruned BEFORE selection, so greedy picks the longest
    within-bounded match — not nothing, and not the unbounded one."""
    df = spark.createDataFrame(
        [(1, i, "error", float(i)) for i in range(6)],
        "user_id int, event_id int, event_type string, value double",
    )
    spec = """PARTITION BY user_id ORDER BY event_id
              MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
              PATTERN (E+) DEFINE E AS E.event_type = 'error'"""
    unbounded = sorted(
        tuple(r) for r in match_recognize(df, spec).collect()
    )
    assert unbounded == [(1, 0, 0, 6)]  # one maximal 6-row run
    bounded = sorted(
        tuple(r) for r in match_recognize(df, spec, within=2).collect()
    )
    # within=2 (order units, first-to-last span): greedy run is capped
    # at 3 rows, SKIP PAST LAST ROW tiles the stream
    assert bounded == [(1, 0, 0, 3), (1, 1, 3, 3)]


# --- round-14: WITHIN INTERVAL (Flink SQL time-bounded MR) --------------


def test_within_interval_parses_to_micros():
    t = translate(
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(E.*) AS n
           PATTERN (E+) WITHIN INTERVAL '2' HOUR
           DEFINE E AS E.event_type = 'error'""",
        COLS,
    )
    assert t["within_micros"] == 2 * 3_600 * 1_000_000


@pytest.mark.parametrize(
    "tail,msg",
    [
        ("WITHIN INTERVAL '0' HOUR", "positive"),
        ("WITHIN INTERVAL 'x' HOUR", "integer literal"),
        ("WITHIN INTERVAL '1' FORTNIGHT", "unexpected tokens"),
        ("WITHIN '1' HOUR", "unexpected tokens"),
    ],
)
def test_within_interval_rails(tail, msg):
    with pytest.raises(MatchRecognizeError, match=msg):
        translate(
            f"""PARTITION BY user_id ORDER BY event_id
                MEASURES COUNT(E.*) AS n
                PATTERN (E+) {tail}
                DEFINE E AS E.event_type = 'error'""",
            COLS,
        )


def test_within_interval_bounds_matches(spark):
    """Six error events 1 h apart: WITHIN INTERVAL '2' HOUR caps the
    greedy run at 3 rows (first-to-last span 2 h) and SKIP PAST LAST
    ROW tiles — and the result equals the explicit within/within_col
    kwargs form on the same data."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, i, base + dt.timedelta(hours=i), "error", float(i))
            for i in range(6)
        ],
        "user_id int, event_id int, ts timestamp, event_type string, "
        "value double",
    )
    spec_within = """PARTITION BY user_id ORDER BY event_id
        MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
        PATTERN (E+) WITHIN INTERVAL '2' HOUR
        DEFINE E AS E.event_type = 'error'"""
    got = sorted(
        tuple(r)
        for r in match_recognize(df, spec_within, time_col="ts").collect()
    )
    assert got == [(1, 0, 0, 3), (1, 1, 3, 3)]

    from pyspark.sql import functions as F

    spec_plain = spec_within.replace(" WITHIN INTERVAL '2' HOUR", "")
    kw = sorted(
        tuple(r)
        for r in match_recognize(
            df.withColumn("us", F.unix_micros("ts")),
            spec_plain,
            within=2 * 3_600 * 1_000_000,
            within_col="us",
        ).collect()
    )
    assert kw == got


def test_within_interval_ntz_is_timezone_independent(spark):
    """TIMESTAMP_NTZ time columns are read naive-as-UTC via an
    NTZ-native diff: the result is identical under any session
    timezone and the session conf is NOT mutated (the review-flagged
    hidden side effect)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, i, base + dt.timedelta(hours=i), "error", float(i))
            for i in range(6)
        ],
        "user_id int, event_id int, ts timestamp_ntz, event_type string, "
        "value double",
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    spec = """PARTITION BY user_id ORDER BY event_id
        MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
        PATTERN (E+) WITHIN INTERVAL '2' HOUR
        DEFINE E AS E.event_type = 'error'"""
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        got = {}
        for tz in ("UTC", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got[tz] = sorted(
                tuple(r)
                for r in match_recognize(df, spec, time_col="ts").collect()
            )
            assert (
                spark.conf.get("spark.sql.session.timeZone") == tz
            ), "match_recognize mutated the session timezone"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert got["UTC"] == got["Asia/Tokyo"] == [(1, 0, 0, 3), (1, 1, 3, 3)]


def test_within_interval_requires_time_col_and_excludes_kwargs(spark):
    df = spark.createDataFrame(
        [(1, 0, "e", 1.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    spec = """PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(E.*) AS n PATTERN (E+) WITHIN INTERVAL '1' HOUR"""
    with pytest.raises(MatchRecognizeError, match="time_col"):
        match_recognize(df, spec)
    with pytest.raises(MatchRecognizeError, match="not a column"):
        match_recognize(df, spec, time_col="nope")
    with pytest.raises(MatchRecognizeError, match="must be a TIMESTAMP"):
        match_recognize(df, spec, time_col="value")
    from pyspark.sql import functions as F

    ts_df = df.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    with pytest.raises(MatchRecognizeError, match="mutually exclusive"):
        match_recognize(ts_df, spec, time_col="ts", within=10)
    with pytest.raises(MatchRecognizeError, match="reserved"):
        match_recognize(
            ts_df.withColumn("__mr_stamp", F.lit(0)), spec, time_col="ts"
        )
    with pytest.raises(MatchRecognizeError, match="no WITHIN INTERVAL"):
        match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(E.*) AS n PATTERN (E+)""",
            time_col="value",
        )


# --- round-14: pattern exclusion {- V -} (SQL:2016) ---------------------


def test_exclusion_parses_and_rails():
    base = """PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(E.*) AS n PATTERN ({pat})
        DEFINE E AS E.event_type = 'error'"""
    t = translate(base.format(pat="E {- G* -} E2"), COLS)
    assert t["excluded_vars"] == ["G"]
    assert t["pattern_vars"] == ["E", "G", "E2"]
    for pat, msg in [
        ("E {- {- G -} -}", "nest"),
        ("E -} G", "without a matching"),
        ("E {- -} G", "empty PATTERN exclusion"),
        ("{- E G -}", "every variable of a PATTERN branch is excluded"),
        ("E {- G", "unclosed"),
    ]:
        with pytest.raises(MatchRecognizeError, match=msg):
            translate(base.format(pat=pat), COLS)


def test_exclusion_all_rows_drops_rows_but_feeds_measures(spark):
    """E G G P: ALL ROWS with {- G+ -} outputs only the E and P rows,
    but COUNT(G.*) still sees both Gs — RUNNING (the ALL ROWS default)
    counts the excluded prefix, FINAL counts the full match."""
    df = spark.createDataFrame(
        [
            (1, 0, "error", 1.0),
            (1, 1, "gap", 2.0),
            (1, 2, "gap", 3.0),
            (1, 3, "purchase", 4.0),
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    spec = """PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(G.*) AS g_run, FINAL COUNT(G.*) AS g_fin
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (E {- G+ -} P)
        DEFINE E AS E.event_type = 'error',
               P AS P.event_type = 'purchase'"""
    got = sorted(
        (r["event_id"], r["classifier"], r["g_run"], r["g_fin"])
        for r in match_recognize(df, spec).collect()
    )
    # G rows (event_id 1, 2) are excluded from output; the excluded
    # rows still feed both measure modes
    assert got == [(0, "E", 0, 2), (3, "P", 2, 2)]


def test_exclusion_one_row_per_match_is_noop(spark):
    df = spark.createDataFrame(
        [
            (1, 0, "error", 1.0),
            (1, 1, "gap", 2.0),
            (1, 2, "purchase", 4.0),
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    with_excl = """PARTITION BY user_id ORDER BY event_id
        MEASURES FIRST(E.event_id) AS fe, COUNT(G.*) AS g
        PATTERN (E {- G* -} P)
        DEFINE E AS E.event_type = 'error',
               P AS P.event_type = 'purchase'"""
    without = with_excl.replace("{- G* -}", "G*")
    a = sorted(tuple(r) for r in match_recognize(df, with_excl).collect())
    b = sorted(tuple(r) for r in match_recognize(df, without).collect())
    assert a == b == [(1, 0, 0, 1)]


def test_exclusion_fully_excluded_match_emits_no_rows(spark):
    """PATTERN ({- A+ -} B?): a match where B captures nothing consists
    only of excluded rows — it contributes NO output rows under ALL
    ROWS (but still counts as a match under ONE ROW)."""
    df = spark.createDataFrame(
        [
            (1, 0, "a", 1.0),
            (1, 1, "a", 2.0),
            (2, 0, "a", 3.0),
            (2, 1, "b", 4.0),
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    spec = """PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN ({- A+ -} B?)
        DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'"""
    got = sorted(
        (r["user_id"], r["event_id"], r["classifier"])
        for r in match_recognize(df, spec).collect()
    )
    # key 1: both matches fully excluded -> nothing; key 2: B row only
    assert got == [(2, 1, "B")]
    one_row = spec.replace("ALL ROWS PER MATCH\n        ", "")
    n_matches = match_recognize(df, one_row).count()
    # greedy A+ takes both a's at key 1 in one match, PAST LAST ROW
    # advances beyond it; key 2 matches once -> 2 matches, both still
    # REAL matches under ONE ROW even though key 1's is fully excluded
    assert n_matches == 2


def test_exclusion_keeps_truncate_sentinel(spark):
    """The all-excluded-match guard keys on match_seq = -1: a hot key's
    truncate sentinel (empty capture array -> NULL classifier) must
    survive the exclusion filter."""
    rows = [(1, i, "error", 1.0) for i in range(60)] + [
        (2, 0, "error", 1.0),
        (2, 1, "gap", 2.0),
        (2, 2, "purchase", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(E.*) AS ne
           ALL ROWS PER MATCH
           PATTERN (E {- G* -} P)
           DEFINE E AS E.event_type = 'error',
                  P AS P.event_type = 'purchase'""",
        max_active_runs=10,
        on_limit="truncate",
    ).collect()
    sentinels = [r for r in out if r["match_seq"] == -1]
    assert len(sentinels) == 1 and sentinels[0]["user_id"] == 1
    assert sentinels[0]["classifier"] is None
    normal = sorted(
        (r["event_id"], r["classifier"]) for r in out if r["match_seq"] >= 0
    )
    assert normal == [(0, "E"), (2, "P")]  # key 2's G row excluded


# --- round-14: MATCH_NUMBER() / CLASSIFIER() measures -------------------


def test_match_number_and_classifier_one_row(spark):
    """ONE ROW PER MATCH: MATCH_NUMBER() is 1-based match_seq,
    CLASSIFIER() is the LAST row's variable (P when it captures, E
    when the optional tail is empty)."""
    df = spark.createDataFrame(
        [
            (1, 0, "error", 1.0),
            (1, 1, "purchase", 2.0),
            (1, 2, "error", 3.0),
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls,
                        FIRST(E.event_id) AS fe
               PATTERN (E P?)
               DEFINE E AS E.event_type = 'error',
                      P AS P.event_type = 'purchase'""",
        ).collect()
    )
    assert got == [(1, 0, 1, "P", 0), (1, 1, 2, "E", 2)]


def test_match_number_and_classifier_all_rows(spark):
    """ALL ROWS PER MATCH: RUNNING CLASSIFIER() (the default) equals
    the classifier output column per row; FINAL CLASSIFIER() repeats
    the last row's variable; MATCH_NUMBER() is constant per match."""
    df = spark.createDataFrame(
        [
            (1, 0, "error", 1.0),
            (1, 1, "gap", 2.0),
            (1, 2, "purchase", 3.0),
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    rows = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls,
                    FINAL CLASSIFIER() AS fcls
           ALL ROWS PER MATCH
           PATTERN (E G* P)
           DEFINE E AS E.event_type = 'error',
                  P AS P.event_type = 'purchase'""",
    ).collect()
    got = sorted(
        (r["event_id"], r["classifier"], r["mn"], r["cls"], r["fcls"])
        for r in rows
    )
    assert got == [
        (0, "E", 1, "E", "P"),
        (1, "G", 1, "G", "P"),
        (2, "P", 1, "P", "P"),
    ]


def test_classifier_null_on_truncate_sentinel(spark):
    rows = [(1, i, "error", 1.0) for i in range(60)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls
           PATTERN (E+) DEFINE E AS E.event_type = 'error'""",
        max_active_runs=10,
        on_limit="truncate",
    ).collect()
    s = [r for r in out if r["match_seq"] == -1]
    assert len(s) == 1 and s[0]["mn"] is None and s[0]["cls"] is None


def test_nullary_measure_rails():
    base = """PARTITION BY user_id ORDER BY event_id
        MEASURES {m} PATTERN (E) DEFINE E AS E.event_type = 'error'"""
    with pytest.raises(MatchRecognizeError, match="unsupported measure"):
        translate(base.format(m="MATCH_NUMBER(x) AS mn"), COLS)
    with pytest.raises(MatchRecognizeError, match="duplicate measure"):
        translate(
            base.format(m="CLASSIFIER() AS c, CLASSIFIER() AS c"), COLS
        )
    with pytest.raises(MatchRecognizeError, match="collides"):
        translate(base.format(m="MATCH_NUMBER() AS user_id"), COLS)


# --- round-14: ordered alternation PATTERN (A B | C) --------------------


@pytest.fixture(scope="module")
def alt_df(spark):
    rows = [
        # user 1: s a a b c
        (1, 0, "s", 1.0), (1, 1, "a", 2.0), (1, 2, "a", 3.0),
        (1, 3, "b", 4.0), (1, 4, "c", 5.0),
        # user 2: b b s
        (2, 10, "b", 1.0), (2, 11, "b", 2.0), (2, 12, "s", 3.0),
    ]
    return spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )


ALT_SPEC = """PARTITION BY user_id ORDER BY event_id
    MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
             COUNT(A.*) AS na, COUNT(B.*) AS nb, COUNT(C.*) AS nc
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A+ | B{1,2} | C)
    DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b',
           C AS C.event_type = 'c'"""


def test_alternation_matches_each_branch(alt_df):
    got = sorted(
        (r["user_id"], r["mn"], r["cls"], r["na"], r["nb"], r["nc"])
        for r in match_recognize(alt_df, ALT_SPEC).collect()
    )
    # user 1: greedy A+ takes both a's; then B; then C.  user 2: B{1,2}
    # greedy takes both b's in one match.
    assert got == [
        (1, 1, "A", 2, 0, 0),
        (1, 2, "B", 0, 1, 0),
        (1, 3, "C", 0, 0, 1),
        (2, 1, "B", 0, 2, 0),
    ]


def test_alternation_prefers_written_order(spark):
    """A row matching several alternatives goes to the FIRST-written
    one — even when a later alternative would match MORE rows (branch
    preference dominates greediness, SQL:2016 preferment)."""
    df = spark.createDataFrame(
        [(1, 0, "x", 1.0), (1, 1, "x", 2.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES CLASSIFIER() AS cls, COUNT(S.*) AS ns,
                        COUNT(L.*) AS nl
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN (S | L+)
               DEFINE S AS S.event_type = 'x', L AS L.event_type = 'x'""",
        ).collect()
    )
    # S (1 row) wins over L+ (2 rows) at each start: two unit matches
    assert got == [(1, 0, "S", 1, 0), (1, 1, "S", 1, 0)]


def test_alternation_sequence_branches_and_all_rows(alt_df):
    rows = match_recognize(
        alt_df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES FINAL CLASSIFIER() AS fcls
           ALL ROWS PER MATCH
           AFTER MATCH SKIP PAST LAST ROW
           PATTERN (S A+ | B{2})
           DEFINE S AS S.event_type = 's', A AS A.event_type = 'a',
                  B AS B.event_type = 'b'""",
    ).collect()
    got = sorted(
        (r["user_id"], r["event_id"], r["classifier"], r["fcls"])
        for r in rows
    )
    # user 1: S A A (branch 1); user 2: B B (branch 2)
    assert got == [
        (1, 0, "S", "A"),
        (1, 1, "A", "A"),
        (1, 2, "A", "A"),
        (2, 10, "B", "B"),
        (2, 11, "B", "B"),
    ]


def test_alternation_composes_with_within_and_exclusion(spark):
    """Alternation + WITHIN INTERVAL + exclusion in one spec: branch 1
    (excluded filler then purchase) within 2h, branch 2 a lone refund."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 0, base, "s", 1.0),
        (1, 1, base + dt.timedelta(hours=1), "g", 1.0),
        (1, 2, base + dt.timedelta(hours=2), "p", 9.0),
        (1, 3, base + dt.timedelta(hours=3), "r", 2.0),
        # second s...p pair too far apart for the 2h bound
        (1, 4, base + dt.timedelta(hours=10), "s", 1.0),
        (1, 5, base + dt.timedelta(hours=13), "p", 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id int, event_id int, ts timestamp, event_type string, "
        "value double",
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["classifier"])
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(G.*) AS g
               ALL ROWS PER MATCH
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN (S {- G* -} P | R) WITHIN INTERVAL '2' HOUR
               DEFINE S AS S.event_type = 's', P AS P.event_type = 'p',
                      R AS R.event_type = 'r'""",
            time_col="ts",
        ).collect()
    )
    # first funnel matches (G row excluded from output), refund matches
    # via branch 2; the 10h->13h funnel exceeds the bound
    assert got == [(1, 0, "S"), (1, 2, "P"), (1, 3, "R")]


def test_alternation_streaming_raises(spark):
    from reflinkcep_spark.cep.match_recognize import match_recognize_stream

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "1 as user_id", "value as event_id", "'a' as event_type",
            "1.0 as value"
        )
    )
    with pytest.raises(Exception, match="TO NEXT ROW with reluctant quantifiers only"):
        match_recognize_stream(
            stream,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               AFTER MATCH SKIP TO NEXT ROW
               PATTERN (A | B)
               DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'""",
        )


def test_alternation_with_reluctant_quantifiers_raises(spark):
    """Lexicographic MIN would prefer the RIGHT alternative, inverting
    SQL's written-order preferment; the kernel's plan refuses it and
    the batch surface reports it as a MatchRecognizeError."""
    with pytest.raises(MatchRecognizeError, match="requires GREEDY selection"):
        match_recognize(
            _mk(spark, [1, 2, 3]),
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               PATTERN (A+? | B)
               DEFINE A AS A.value > 1, B AS B.value > 2""",
        )


def test_alternation_review_rails(spark):
    """Round-14 review fixes: skip-to targets cannot sit in alternation
    branches (a match via the other branch would abort the job at
    runtime); '|' inside an exclusion names the real problem."""
    with pytest.raises(MatchRecognizeError, match="cannot combine with alternation"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               AFTER MATCH SKIP TO LAST C
               PATTERN (A | C)
               DEFINE A AS A.value > 1, C AS C.value > 2""",
            COLS,
        )
    with pytest.raises(MatchRecognizeError, match="alternation inside an exclusion"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               PATTERN (A {- B | C -} D)
               DEFINE A AS A.value > 1""",
            COLS,
        )


def test_kernel_rejects_zero_min_alt_branch(spark):
    """Direct kernel use (the translator can't emit this): a zero-min
    alternation branch breaks the left-branch lens dominance — the
    validator raises instead of silently preferring the right branch."""
    from reflinkcep_spark.operators import match_pattern
    from reflinkcep_spark.cep.query import Query

    q = Query(
        {
            "type": "combine",
            "contiguity": "strict",
            "left": {
                "type": "alt",
                "left": {
                    "type": "lpat-inf",
                    "name": "A",
                    "event": "row",
                    "cndt": {"expr": "value > 5"},
                    "loop": {"contiguity": "strict", "from": 0},
                },
                "right": {
                    "type": "spat",
                    "name": "B",
                    "event": "row",
                    "cndt": {"expr": "True"},
                },
            },
            "right": {
                "type": "spat",
                "name": "C",
                "event": "row",
                "cndt": {"expr": "True"},
            },
        },
        {"schema": {"row": ["event_id", "value"]}, "strategy": "NoSkip"},
    )
    df = spark.createDataFrame(
        [(1, 0, 1.0)], "user_id int, event_id int, value double"
    )
    with pytest.raises(Exception, match="zero-min branch"):
        match_pattern(
            df,
            q,
            order_by="event_id",
            partition_by="user_id",
            type_col=None,
            sql_skip=("past_last", None),
            sql_prefer="longest",
        )


def test_final_classifier_immune_to_tied_order_values(spark):
    """FINAL CLASSIFIER() is the last variable with a non-empty capture
    (pattern order), so duplicate order values across the A/B boundary
    cannot misattribute the last row."""
    ddl = "user_id int, event_id int, event_type string, value double"
    spec = """PARTITION BY user_id ORDER BY event_id
              MEASURES CLASSIFIER() AS cls
              PATTERN (Z B)
              DEFINE Z AS Z.event_type = '{z}', B AS B.event_type = 'b'"""
    df = spark.createDataFrame(
        # both rows share event_id = 5: Z's and B's rows tie on order,
        # and the order rule puts event_type 'a' before 'b'
        [(1, 5, "a", 1.0), (1, 5, "b", 2.0)], ddl,
    )
    got = match_recognize(df, spec.format(z="a")).collect()
    assert [r["cls"] for r in got] == ["B"]
    # The rule decides a tie, not the input order: 'b' sorts before
    # 'z', so Z B cannot match either way round.
    tied = [(1, 5, "z", 1.0), (1, 5, "b", 2.0)]
    for rows in (tied, tied[::-1]):
        df = spark.createDataFrame(rows, ddl)
        assert match_recognize(df, spec.format(z="z")).collect() == []


# --- round-14: SUBSET union variables -----------------------------------


def test_subset_measures_over_alternation(spark):
    """SUBSET U = (A, B) over PATTERN (A+ | B{1,2}): COUNT/FIRST/LAST/
    SUM over U resolve to the taken branch's captures."""
    df = spark.createDataFrame(
        [
            (1, 0, "a", 1.0), (1, 1, "a", 2.0),   # A A   (branch 1)
            (1, 2, "b", 4.0), (1, 3, "b", 8.0),   # B B   (branch 2)
        ],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(U.*) AS nu, FIRST(U.event_id) AS fu,
                        LAST(U.event_id) AS lu, SUM(U.value) AS su,
                        MIN(U.value) AS mnu, MAX(U.value) AS mxu
               AFTER MATCH SKIP PAST LAST ROW
               PATTERN (A+ | B{1,2})
               SUBSET U = (A, B)
               DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'""",
        ).collect()
    )
    assert got == [
        (1, 0, 2, 0, 1, 3.0, 1.0, 2.0),
        (1, 1, 2, 2, 3, 12.0, 4.0, 8.0),
    ]


def test_subset_spans_sequence_variables(spark):
    """SUBSET across consecutive sequence variables: FIRST/LAST cross
    the member boundary correctly (order + pattern-position pick)."""
    df = spark.createDataFrame(
        [(1, 0, "s", 1.0), (1, 1, "g", 2.0), (1, 2, "p", 4.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(SP.event_id) AS f, LAST(SP.event_id) AS l,
                        COUNT(SP.*) AS n, COUNT(G.*) AS g
               PATTERN (S G* P)
               SUBSET SP = (S, P)
               DEFINE S AS S.event_type = 's', P AS P.event_type = 'p'""",
        ).collect()
    )
    # SP = {row 0 (S), row 2 (P)}: gap row 1 not in the union
    assert got == [(1, 0, 0, 2, 2, 1)]


def test_subset_running_measures_all_rows(spark):
    """RUNNING COUNT(U.*) under ALL ROWS counts rows mapped to ANY
    member at or before each output row."""
    df = spark.createDataFrame(
        [(1, 0, "a", 1.0), (1, 1, "g", 2.0), (1, 2, "b", 4.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    rows = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(U.*) AS nu
           ALL ROWS PER MATCH
           PATTERN (A G* B)
           SUBSET U = (A, B)
           DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'""",
    ).collect()
    got = sorted((r["event_id"], r["classifier"], r["nu"]) for r in rows)
    assert got == [(0, "A", 1), (1, "G", 1), (2, "B", 2)]


def test_subset_empty_union_and_sentinel(spark):
    """A union whose every member captured nothing: COUNT 0, FIRST/
    LAST/SUM NULL; on the truncate sentinel everything is NULL."""
    rows = [(1, i, "a", 1.0) for i in range(60)] + [(2, 0, "a", 1.0)]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )
    out = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES COUNT(U.*) AS nu, FIRST(U.value) AS fu
           PATTERN (A+ C? D?)
           SUBSET U = (C, D)
           DEFINE A AS A.event_type = 'a', C AS C.event_type = 'c',
                  D AS D.event_type = 'd'""",
        max_active_runs=10,
        on_limit="truncate",
    ).collect()
    sent = [r for r in out if r["match_seq"] == -1]
    assert len(sent) == 1 and sent[0]["nu"] is None and sent[0]["fu"] is None
    normal = [r for r in out if r["match_seq"] >= 0]
    assert normal and all(r["nu"] == 0 and r["fu"] is None for r in normal)


def test_subset_rails(spark):
    base = """PARTITION BY user_id ORDER BY event_id
        MEASURES {m} PATTERN (A B) {s}
        DEFINE A AS A.event_type = 'a'"""
    with pytest.raises(MatchRecognizeError, match="cannot target SUBSET"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               AFTER MATCH SKIP TO LAST U PATTERN (A B)
               SUBSET U = (A, B)
               DEFINE A AS A.event_type = 'a'""",
            COLS,
        )
    with pytest.raises(MatchRecognizeError, match="malformed SUBSET"):
        translate(base.format(m="COUNT(A.*) AS n", s="SUBSET U (A)"), COLS)
    # subset usable as a measure var, unknown union still rejected
    with pytest.raises(MatchRecognizeError, match="unknown variable"):
        translate(base.format(m="COUNT(W.*) AS n", s="SUBSET U = (A)"), COLS)


def test_subset_review_rails_and_ties(spark):
    """Round-14 review fixes over the SUBSET batch."""
    # malformed SUBSET after a valid WITHIN names the SUBSET shape
    with pytest.raises(MatchRecognizeError, match="malformed SUBSET"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               PATTERN (A B) WITHIN INTERVAL '5' SECOND SUBSET U (A)
               DEFINE A AS A.value > 1""",
            COLS,
        )
    # trailing comma names the real problem
    with pytest.raises(MatchRecognizeError, match="trailing comma"):
        translate(
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(A.*) AS n
               PATTERN (A B) SUBSET U = (A,)
               DEFINE A AS A.value > 1""",
            COLS,
        )
    # RUNNING FIRST/LAST over a SUBSET agrees with FINAL even when
    # order values tie across the member boundary (both read the
    # member captures in pattern order, which is match order); the
    # order rule puts event_type 'a' (Z's row) before 'b'
    df = spark.createDataFrame(
        [(1, 7, "a", 10.0), (1, 7, "b", 20.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    rows = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES FIRST(U.value) AS rf, LAST(U.value) AS rl,
                    FINAL FIRST(U.value) AS ff, FINAL LAST(U.value) AS fl
           ALL ROWS PER MATCH
           PATTERN (Z B)
           SUBSET U = (Z, B)
           DEFINE Z AS Z.event_type = 'a', B AS B.event_type = 'b'""",
    ).collect()
    last_row = [r for r in rows if r["classifier"] == "B"][0]
    assert last_row["ff"] == 10.0 and last_row["fl"] == 20.0
    assert last_row["rf"] == 10.0 and last_row["rl"] == 20.0


def test_subset_first_last_on_non_orderable_column(spark):
    """FIRST/LAST(U.col) must work on column types array_min cannot
    order (the value is selected AFTER the (o, i) comparison)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 0, "a", 1.0), (1, 1, "b", 2.0)],
        "user_id int, event_id int, event_type string, value double",
    ).withColumn("m", F.create_map(F.lit("k"), F.col("value")))
    got = match_recognize(
        df,
        """PARTITION BY user_id ORDER BY event_id
           MEASURES FIRST(U.m) AS fm, LAST(U.m) AS lm
           PATTERN (A B)
           SUBSET U = (A, B)
           DEFINE A AS A.event_type = 'a', B AS B.event_type = 'b'""",
    ).collect()
    assert got[0]["fm"] == {"k": 1.0} and got[0]["lm"] == {"k": 2.0}


# --- measures read captures in match order (NULL ORDER BY last) -------
#
# The kernel feeds a key's rows by ORDER BY with NULL values last, and
# every measure reads captures in that order: no measure sorts again.

NULL_LAST_SPEC = """PARTITION BY u ORDER BY e
   MEASURES {measures}
   {rows}
   PATTERN (A B+)
   {subset}
   DEFINE A AS A.x < 6, B AS B.x > 6"""


def _null_last_df(spark):
    return spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 7.0), (1, None, 9.0)], "u int, e int, x double"
    )


def test_all_rows_running_count_keeps_null_order_value_last(spark):
    rows = match_recognize(
        _null_last_df(spark),
        NULL_LAST_SPEC.format(
            measures="RUNNING COUNT(A.*) AS na, CLASSIFIER() AS cls",
            rows="ALL ROWS PER MATCH", subset="",
        ),
    ).collect()
    assert [(r["cls"], r["e"], r["na"]) for r in rows] == [
        ("A", 1, 1), ("B", 2, 1), ("B", None, 1),
    ]


def test_subset_last_is_the_match_last_row_under_null_order_value(spark):
    rows = match_recognize(
        _null_last_df(spark),
        NULL_LAST_SPEC.format(
            measures="FIRST(U.x) AS fu, LAST(U.x) AS lu, LAST(B.x) AS lb",
            rows="", subset="SUBSET U = (A, B)",
        ),
    ).collect()
    assert [(r["fu"], r["lu"], r["lb"]) for r in rows] == [(5.0, 9.0, 9.0)]


def test_all_rows_per_match_over_a_map_column(spark):
    """ALL ROWS output and its measures need no ordering of the event
    columns, so a column type Spark cannot sort (map) passes through."""
    from pyspark.sql import functions as F

    df = _null_last_df(spark).withColumn(
        "m", F.create_map(F.lit("k"), F.col("x"))
    )
    rows = match_recognize(
        df,
        NULL_LAST_SPEC.format(
            measures="LAST(U.m) AS lm, FINAL FIRST(U.m) AS fm",
            rows="ALL ROWS PER MATCH", subset="SUBSET U = (A, B)",
        ),
    ).collect()
    assert [(r["e"], r["m"], r["lm"], r["fm"]) for r in rows] == [
        (1, {"k": 5.0}, {"k": 5.0}, {"k": 5.0}),
        (2, {"k": 7.0}, {"k": 7.0}, {"k": 5.0}),
        (None, {"k": 9.0}, {"k": 9.0}, {"k": 5.0}),
    ]


def test_all_rows_running_subset_plan_has_no_sort_and_one_exchange(spark):
    import re

    out = match_recognize(
        _null_last_df(spark),
        NULL_LAST_SPEC.format(
            measures="COUNT(U.*) AS nu, FIRST(U.x) AS fu, FINAL LAST(U.x) AS lu",
            rows="ALL ROWS PER MATCH", subset="SUBSET U = (A, B)",
        ),
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "array_sort" not in analyzed, analyzed
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert [(r["nu"], r["fu"], r["lu"]) for r in out.collect()] == [
        (1, 5.0, 9.0), (2, 5.0, 9.0), (3, 5.0, 9.0),
    ]


# --- round-14: partition anchors ^ / $ ----------------------------------


@pytest.fixture(scope="module")
def anchor_df(spark):
    rows = [
        # user 1: e e p e e  -> error runs [0,1] and [3,4]
        (1, 0, "error", 1.0), (1, 1, "error", 2.0), (1, 2, "purchase", 3.0),
        (1, 3, "error", 4.0), (1, 4, "error", 5.0),
        # user 2: p e e      -> one error run [11,12] at partition end
        (2, 10, "purchase", 1.0), (2, 11, "error", 2.0), (2, 12, "error", 3.0),
    ]
    return spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, value double"
    )


def test_anchor_start_keeps_prefix_runs_only(anchor_df):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            anchor_df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
               PATTERN (^ E+) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    # user 1 starts with errors -> its prefix run survives; user 2
    # starts with a purchase -> nothing
    assert got == [(1, 0, 0, 2)]


def test_anchor_end_keeps_suffix_runs_only(anchor_df):
    got = sorted(
        tuple(r)
        for r in match_recognize(
            anchor_df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES FIRST(E.event_id) AS fe, COUNT(E.*) AS n
               PATTERN (E+ $) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    # runs that reach the partition end: user 1's [3,4] (both starts
    # 3 and 4 anchor, PAST LAST ROW keeps the first), user 2's [11,12]
    assert got == [(1, 0, 3, 2), (2, 0, 11, 2)]


def test_anchor_both_full_partition_or_nothing(spark):
    df = spark.createDataFrame(
        [(1, 0, "error", 1.0), (1, 1, "error", 2.0),
         (2, 0, "error", 1.0), (2, 1, "purchase", 2.0)],
        "user_id int, event_id int, event_type string, value double",
    )
    got = sorted(
        tuple(r)
        for r in match_recognize(
            df,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(E.*) AS n
               PATTERN (^ E+ $) DEFINE E AS E.event_type = 'error'""",
        ).collect()
    )
    assert got == [(1, 0, 2)]  # key 2 is not all-errors


def test_anchor_rails(spark):
    base = """PARTITION BY user_id ORDER BY event_id
        MEASURES COUNT(E.*) AS n PATTERN ({p})
        DEFINE E AS E.event_type = 'error'"""
    with pytest.raises(MatchRecognizeError, match="misplaced PATTERN anchor"):
        translate(base.format(p="E ^ E2"), COLS)
    with pytest.raises(MatchRecognizeError, match="misplaced PATTERN anchor"):
        translate(base.format(p="$ E"), COLS)
    with pytest.raises(MatchRecognizeError, match="anchors with alternation"):
        translate(base.format(p="^ E | E2"), COLS)
    from reflinkcep_spark.cep.match_recognize import match_recognize_stream

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("1 as user_id", "value as event_id",
                    "'error' as event_type", "1.0 as value")
    )
    with pytest.raises(MatchRecognizeError, match="not supported on the streaming"):
        match_recognize_stream(
            stream,
            """PARTITION BY user_id ORDER BY event_id
               MEASURES COUNT(E.*) AS n
               AFTER MATCH SKIP TO NEXT ROW
               PATTERN (E+? $) DEFINE E AS E.event_type = 'error'""",
        )


# --- attr_cols: refused on both surfaces ---------------------------------

# Shapes that read columns outside a caller's attr_cols list: PREV/NEXT,
# a DEFINE column, ALL ROWS PER MATCH and a MEASURES column.  All but
# PREV are valid stream specs too (reluctant, SKIP TO NEXT ROW), so the
# stream refuses attr_cols before anything else.
ATTR_COLS_SPECS = {
    "prev": """MEASURES COUNT(B.*) AS n AFTER MATCH SKIP TO NEXT ROW
               PATTERN (A B+?) DEFINE B AS PREV(event_id) < B.event_id""",
    "define": """MEASURES COUNT(A.*) AS n AFTER MATCH SKIP TO NEXT ROW
                 PATTERN (A) DEFINE A AS A.value > 1""",
    "all-rows": """MEASURES COUNT(A.*) AS n ALL ROWS PER MATCH
                   AFTER MATCH SKIP TO NEXT ROW
                   PATTERN (A) DEFINE A AS A.event_type = 'row'""",
    "measures": """MEASURES LAST(A.value) AS v AFTER MATCH SKIP TO NEXT ROW
                   PATTERN (A) DEFINE A AS A.event_type = 'row'""",
}


@pytest.mark.parametrize("surface", ["batch", "stream"])
@pytest.mark.parametrize("shape", sorted(ATTR_COLS_SPECS))
def test_attr_cols_is_refused(spark, shape, surface):
    from reflinkcep_spark.cep.match_recognize import match_recognize_stream

    if surface == "batch":
        run, df = match_recognize, _mk(spark, [5, 3, 4])
    else:
        run = match_recognize_stream
        df = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr("1 as user_id", "value as event_id",
                        "'row' as event_type", "1.0 as value")
        )
    with pytest.raises(MatchRecognizeError, match="select the input's columns"):
        run(
            df,
            "PARTITION BY user_id ORDER BY event_id " + ATTR_COLS_SPECS[shape],
            attr_cols=["event_id", "event_type"],
        )
