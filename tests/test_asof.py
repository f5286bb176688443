"""asof_join edge semantics: inclusive ties, no-prior-match NULLs,
per-key isolation, latest-wins among candidates."""

from reflinkcep_spark.operators.asof import asof_join


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, 10, "L10"),  # right at ts=10 exists → tie is inclusive
            (1, 5, "L5"),    # before any right row → NULL
            (1, 25, "L25"),  # picks latest right (20), not first (10)
            (2, 15, "L15"),  # other key: only key-2 right rows visible
        ],
        "k long, ts long, lbl string",
    )
    right = spark.createDataFrame(
        [(1, 10, "R10"), (1, 20, "R20"), (2, 1, "R1"), (3, 0, "R0")],
        "k long, ts long, rlbl string",
    )
    out = asof_join(left, right, on="ts", by="k", right_cols=["rlbl"])
    got = {(r.k, r.ts): r.rlbl for r in out.collect()}
    assert got == {
        (1, 10): "R10",
        (1, 5): None,
        (1, 25): "R20",
        (2, 15): "R1",
    }
    assert out.columns == ["k", "ts", "lbl", "rlbl"]


def test_asof_join_composite_key(spark):
    left = spark.createDataFrame(
        [(1, "x", 10), (1, "y", 10)], "k long, sub string, ts long"
    )
    right = spark.createDataFrame(
        [(1, "x", 5, "RX"), (1, "y", 6, "RY")], "k long, sub string, ts long, rlbl string"
    )
    out = asof_join(left, right, on="ts", by=["k", "sub"], right_cols=["rlbl"])
    got = {(r.k, r.sub): r.rlbl for r in out.collect()}
    assert got == {(1, "x"): "RX", (1, "y"): "RY"}


def test_asof_join_suffix_keeps_overlapping_name(spark):
    left = spark.createDataFrame([(1, 10, 99.0)], "k long, ts long, value double")
    right = spark.createDataFrame([(1, 9, 1.5)], "k long, ts long, value double")
    out = asof_join(
        left, right, on="ts", by="k", right_cols=["value"], suffix="_r"
    )
    row = out.collect()[0]
    assert (row.value, row.value_r) == (99.0, 1.5)


def test_asof_join_rejects_colliding_output_names(spark):
    import pytest

    left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, rlbl string")
    right = spark.createDataFrame([(1, 5, "R")], "k long, ts long, rlbl string")
    # suffix='' would emit a duplicate `rlbl` column — must fail loudly
    with pytest.raises(ValueError, match="rlbl"):
        asof_join(left, right, on="ts", by="k", right_cols=["rlbl"])
    # a suffix that dodges the clash is fine
    out = asof_join(left, right, on="ts", by="k", right_cols=["rlbl"], suffix="_r")
    assert out.columns == ["k", "ts", "rlbl", "rlbl_r"]
    assert out.collect()[0]["rlbl_r"] == "R"


def test_asof_forward_direction(spark):
    from reflinkcep_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 500), (1, 12, 900), (2, 20, 100)],
        "k long, id long, t long",
    )
    right = spark.createDataFrame(
        [(1, 100, "tie"), (1, 600, "later")], "k long, t long, tag string"
    )
    out = {
        r["id"]: r["tag"]
        for r in asof_join(
            left, right, on="t", by="k", right_cols=["tag"],
            direction="forward",
        ).collect()
    }
    assert out[10] == "tie"     # inclusive: right at the same instant
    assert out[11] == "later"   # earliest right at-or-after 500
    assert out[12] is None      # nothing after 900
    assert out[20] is None      # key isolation

    import pytest as _pytest
    with _pytest.raises(ValueError):
        asof_join(left, right, on="t", by="k", right_cols=["tag"], direction="nearest")


def test_asof_null_on_right_row_matches_no_left_row(spark):
    """A right row with a NULL ``on`` precedes and follows no left row
    with an ``on`` value, in either direction, as in DuckDB's ``ASOF
    LEFT JOIN`` (the module's oracle).  A NULL-``on`` left row sorts
    after every right row, and DuckDB pairs it likewise.  The rows are
    SQL NULLs on both sides: DuckDB would treat a pandas NaN as a
    value."""
    import duckdb

    left_rows = "(1, 1, 5), (1, 2, 20), (1, 3, NULL)"
    right_rows = "(1, NULL, 'rnull'), (1, 10, 'r10')"
    left = spark.sql(f"SELECT * FROM VALUES {left_rows} AS l(k, id, t)")
    right = spark.sql(f"SELECT * FROM VALUES {right_rows} AS r(k, t, tag)")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE l AS SELECT * FROM (VALUES {left_rows}) l(k, id, t)")
    con.execute(f"CREATE TABLE r AS SELECT * FROM (VALUES {right_rows}) r(k, t, tag)")
    expected = {
        "backward": {1: None, 2: "r10", 3: "rnull"},
        "forward": {1: "r10", 2: None, 3: "rnull"},
    }
    for direction, op in (("backward", ">="), ("forward", "<=")):
        oracle = dict(con.execute(
            f"SELECT l.id, r.tag FROM l ASOF LEFT JOIN r "
            f"ON l.k = r.k AND l.t {op} r.t"
        ).fetchall())
        got = {
            r["id"]: r["tag"]
            for r in asof_join(
                left, right, on="t", by="k", right_cols=["tag"], direction=direction,
            ).collect()
        }
        assert got == oracle == expected[direction], direction
    con.close()


def test_asof_right_row_with_null_values_is_still_the_nearest(spark):
    """A right row whose carried value is NULL is still a right row: the
    left row it is nearest to gets the NULL, not an older row's value,
    in either direction, as in DuckDB's ``ASOF LEFT JOIN``."""
    import duckdb

    left_rows = "(1, 1, 15), (1, 2, 22), (1, 3, 5)"
    right_rows = "(1, 5, 'r5'), (1, 10, NULL), (1, 20, NULL), (1, 25, 'r25')"
    left = spark.sql(f"SELECT * FROM VALUES {left_rows} AS l(k, id, t)")
    right = spark.sql(f"SELECT * FROM VALUES {right_rows} AS r(k, t, tag)")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE l AS SELECT * FROM (VALUES {left_rows}) l(k, id, t)")
    con.execute(f"CREATE TABLE r AS SELECT * FROM (VALUES {right_rows}) r(k, t, tag)")
    expected = {
        "backward": {1: None, 2: None, 3: "r5"},
        "forward": {1: None, 2: "r25", 3: "r5"},
    }
    for direction, op in (("backward", ">="), ("forward", "<=")):
        oracle = dict(con.execute(
            f"SELECT l.id, r.tag FROM l ASOF LEFT JOIN r "
            f"ON l.k = r.k AND l.t {op} r.t"
        ).fetchall())
        out = asof_join(
            left, right, on="t", by="k", right_cols=["tag"], direction=direction,
        )
        assert out.columns == ["k", "id", "t", "tag"]
        got = {r["id"]: r["tag"] for r in out.collect()}
        assert got == oracle == expected[direction], direction
    con.close()
