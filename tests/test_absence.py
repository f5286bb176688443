"""operators/absence.py: not_followed_by semantics.

Pins the strictly-after contract (a same-instant right row is NOT a
follower), the inclusive span boundary, the unbounded (within=None)
form, and per-key isolation.
"""

from reflinkcep_spark.operators import not_followed_by


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_not_followed_by_span_and_boundaries(spark):
    left = spark.createDataFrame(
        [
            (1, 10, 100),   # followed at 150 (within 100) -> dropped
            (1, 11, 300),   # followed at 401 (outside 100) -> kept
            (1, 12, 500),   # right at exactly 500 (same instant) -> kept
            (1, 13, 900),   # no right after at all -> kept
            (2, 20, 100),   # key 2 has no rights -> kept
        ],
        "k long, id long, t long",
    )
    right = spark.createDataFrame(
        [(1, 150), (1, 401), (1, 500)], "k long, t long"
    )
    out = not_followed_by(left, right, on="t", by="k", within=100)
    assert _ids(out) == [11, 12, 13, 20]

    # boundary is inclusive: a right at exactly t+within IS a follower
    out2 = not_followed_by(left, right, on="t", by="k", within=101)
    assert _ids(out2) == [12, 13, 20]


def test_not_followed_by_unbounded(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 600)], "k long, id long, t long"
    )
    right = spark.createDataFrame([(1, 500)], "k long, t long")
    out = not_followed_by(left, right, on="t", by="k", within=None)
    assert _ids(out) == [11]  # 10 is followed (eventually); 11 never


def test_not_followed_by_keeps_left_columns_and_next(spark):
    left = spark.createDataFrame([(1, 10, 100, "x")], "k long, id long, t long, tag string")
    right = spark.createDataFrame([(1, 950)], "k long, t long")
    [row] = not_followed_by(left, right, on="t", by="k", within=100).collect()
    assert (row["k"], row["id"], row["tag"]) == (1, 10, "x")
    assert row["next_right_on"] == 950  # audit column: first later right


def test_not_next_vs_not_followed_by(spark):
    """The Flink-docs distinction: notNext rejects only when the
    IMMEDIATELY next event matches; notFollowedBy rejects when ANY
    later event matches.  Stream for key 1 (by event id):
    10:purchase 11:click 12:error 13:purchase 14:error 15:purchase."""
    from pyspark.sql import functions as F

    from reflinkcep_spark.operators import not_next

    stream = spark.createDataFrame(
        [
            (1, 10, "purchase"),
            (1, 11, "click"),
            (1, 12, "error"),
            (1, 13, "purchase"),
            (1, 14, "error"),
            (1, 15, "purchase"),
            (2, 20, "purchase"),
        ],
        "k long, id long, et string",
    )
    left = stream.filter(F.col("et") == "purchase")
    out = not_next(
        left, stream, on="id", by="k", cond=F.col("et") == "error"
    )
    # 10 survives (next is a click — the error at 12 is NOT immediate);
    # 13 dies (next is the error at 14); 15 and 20 survive (no next).
    assert _ids(out) == [10, 15, 20]
    rows = {r["id"]: r["next_on"] for r in out.collect()}
    assert rows[10] == 11 and rows[15] is None and rows[20] is None


def test_not_next_null_cond_is_not_negated(spark):
    """A NULL cond on the immediate next event must count as
    not-matching (survive), not be skipped for a later event's flag."""
    from pyspark.sql import functions as F

    from reflinkcep_spark.operators import not_next

    stream = spark.createDataFrame(
        [(1, 10, "purchase", 5), (1, 11, "error", None), (1, 12, "error", 9)],
        "k long, id long, et string, v int",
    )
    left = stream.filter(F.col("et") == "purchase")
    # cond references v: NULL for event 11 → not negated → 10 survives
    out = not_next(
        left, stream, on="id", by="k",
        cond=(F.col("et") == "error") & (F.col("v") > 0),
    )
    assert _ids(out) == [10]


def test_not_next_probe_rows_do_not_shadow_stream(spark):
    """Probe (left) rows are virtual: two probes at consecutive order
    keys must each be judged against the STREAM's next event, not
    against each other."""
    from pyspark.sql import functions as F

    from reflinkcep_spark.operators import not_next

    stream = spark.createDataFrame(
        [(1, 10, "purchase"), (1, 11, "purchase"), (1, 12, "error")],
        "k long, id long, et string",
    )
    left = stream.filter(F.col("et") == "purchase")
    out = not_next(left, stream, on="id", by="k", cond=F.col("et") == "error")
    # 10's next stream event is the purchase at 11 → survives;
    # 11's next is the error at 12 → dies.
    assert _ids(out) == [10]


def test_not_next_rejects_colliding_columns(spark):
    import pytest
    from pyspark.sql import functions as F

    from reflinkcep_spark.operators import not_next

    left = spark.createDataFrame([(1, 10, 99)], "k long, id long, next_on long")
    stream = spark.createDataFrame([(1, 10)], "k long, id long")
    with pytest.raises(ValueError, match="next_on"):
        not_next(left, stream, on="id", by="k", cond=F.lit(True))


def test_not_followed_by_null_on_left_row_has_no_follower(spark):
    """A left row with a NULL ``on`` has no right row after it, as in
    the module's ``NOT EXISTS`` oracle run in DuckDB: it survives at any
    span, and it does not hide the right row from the rows before."""
    import duckdb

    left_rows = "(1, 'l5', 5), (1, 'lnull', NULL)"
    right_rows = "(1, 10)"
    left = spark.sql(f"SELECT * FROM VALUES {left_rows} AS l(k, id, t)")
    right = spark.sql(f"SELECT * FROM VALUES {right_rows} AS r(k, t)")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE l AS SELECT * FROM (VALUES {left_rows}) l(k, id, t)")
    con.execute(f"CREATE TABLE r AS SELECT * FROM (VALUES {right_rows}) r(k, t)")
    expected = {None: ["lnull"], 3: ["l5", "lnull"]}
    for within, want in expected.items():
        bound = "" if within is None else f" AND r.t <= l.t + {within}"
        oracle = sorted(i for (i,) in con.execute(
            "SELECT l.id FROM l WHERE NOT EXISTS (SELECT 1 FROM r "
            f"WHERE r.k = l.k AND r.t > l.t{bound})"
        ).fetchall())
        got = _ids(not_followed_by(left, right, on="t", by="k", within=within))
        assert got == oracle == want, within
    con.close()


def test_not_next_null_on_event_is_last_in_its_key(spark):
    """The next event is ``LEAD … ORDER BY on`` with NULLs last, as
    DuckDB reads it: a NULL-``on`` probe has no next event (it
    survives), and the ``t = 10`` probe's next event is the negated
    NULL-``on`` one (it dies)."""
    import duckdb
    from pyspark.sql import functions as F

    from reflinkcep_spark.operators import not_next

    rows = "(1, 's5', 5, 'a'), (1, 's10', 10, 'a'), (1, 'snull', NULL, 'err')"
    stream = spark.sql(f"SELECT * FROM VALUES {rows} AS s(k, id, t, et)")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE s AS SELECT * FROM (VALUES {rows}) s(k, id, t, et)")
    oracle = dict(con.execute(
        "SELECT id, next_on FROM (SELECT id, LEAD(t) OVER w AS next_on, "
        "LEAD(et) OVER w AS next_et FROM s "
        "WINDOW w AS (PARTITION BY k ORDER BY t ASC NULLS LAST)) "
        "WHERE NOT coalesce(next_et = 'err', false)"
    ).fetchall())
    out = not_next(stream, stream, on="t", by="k", cond=F.col("et") == "err")
    got = {r["id"]: r["next_on"] for r in out.collect()}
    assert got == oracle == {"s5": 10, "snull": None}
    con.close()


def test_sessionize_gap_semantics(spark):
    from reflinkcep_spark.operators import sessionize

    df = spark.createDataFrame(
        [(1, 0), (1, 100), (1, 200), (1, 301), (2, 0)], "k long, t long"
    )
    out = {(r["k"], r["t"]): r["session_seq"]
           for r in sessionize(df, gap=100, by="k", on="t").collect()}
    # delta == gap continues the session; delta > gap starts a new one
    assert out[(1, 0)] == 1 and out[(1, 100)] == 1 and out[(1, 200)] == 1
    assert out[(1, 301)] == 2      # gap of 101 > 100
    assert out[(2, 0)] == 1        # keys are independent
