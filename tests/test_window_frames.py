"""Plan guard for the per-key window operators: the fast-path shapes,
both absence operators and the as-of join.

Spark recomputes a ``(1, unbounded following)`` frame for every row, so
one in a per-key plan makes it quadratic in the key's length; a running
frame (``unbounded preceding`` to an offset) is updated per row.  The
relaxed chain also keeps its shape: one Exchange and one Sort serve
every link window.  A block of strict links resolves in one Window, and
the bounded strict loop reads no rows ahead of the current one.  Every
per-key Sort, on the kernel, the three fast-path planners and
MATCH_RECOGNIZE's navigation window, sorts by the one order rule of
``cep.keyed.order_cols``.
"""

import re

import pytest
from pyspark.sql import functions as F

from reflinkcep_spark import Query, match_recognize
from reflinkcep_spark.operators import match_pattern, not_followed_by, not_next
from reflinkcep_spark.operators.asof import asof_join
from tests.test_fastpath import (
    Q_CHAIN, Q_LPAT, Q_LPAT_2_4, Q_LPAT_INF, Q_LPAT_INF_STN, Q_REL_PAIR, Q_SPAT,
    STREAM, _chain_yaml, _df,
)

RELAXED = {
    "relaxed-pair": Q_REL_PAIR,
    "relaxed3": _chain_yaml(["relaxed", "relaxed"]),
    "strict-relaxed": _chain_yaml(["strict", "relaxed"]),
    "relaxed-strict": _chain_yaml(["relaxed", "strict"]),
    "relaxed3-skiptonext": _chain_yaml(["relaxed", "relaxed"], "SkipToNext"),
}
SHAPES = {
    "spat": Q_SPAT,
    "chain3": Q_CHAIN,
    "strict-lpat": Q_LPAT,
    "strict-lpat-2-4": Q_LPAT_2_4,
    "strict-lpat-inf": Q_LPAT_INF,
    "strict-lpat-inf-skiptonext": Q_LPAT_INF_STN,
    "ndrelaxed3": _chain_yaml(["nd-relaxed", "nd-relaxed"]),
    **RELAXED,
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fast_plan(spark, qyaml) -> str:
    out = match_pattern(
        _df(spark, STREAM), Query.from_yaml(qyaml), order_by="id",
        partition_by="user_id", type_col="type",
    )
    plan = _plan(out)
    assert "MapInPandas" not in plan, "expected the fast path to be dispatched"
    return plan


def _absence_plans(spark) -> list[str]:
    left = spark.createDataFrame([(1, 10, 100)], "k long, id long, t long")
    right = spark.createDataFrame([(1, 150)], "k long, t long")
    stream = spark.createDataFrame([(1, 100, "x"), (1, 150, "y")], "k long, t long, kind string")
    return [
        _plan(not_followed_by(left, right, on="t", by="k", within=100)),
        _plan(not_next(left, stream, on="t", by="k", cond=F.col("kind") == "y")),
    ]


def _asof_plans(spark) -> list[str]:
    left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, lbl string")
    right = spark.createDataFrame([(1, 5, "R")], "k long, ts long, rlbl string")
    return [
        _plan(asof_join(left, right, on="ts", by="k", right_cols=["rlbl"], direction=d))
        for d in ("backward", "forward")
    ]


def _nodes_bottom_up(plan: str) -> list[tuple[str, str]]:
    """``(operator, line)`` per plan node, leaves first (the plan is a
    single chain of operators)."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^[\s:|+\-]*(\w+)", line)
        if m and m.group(1) != "AdaptiveSparkPlan":
            nodes.append((m.group(1), line))
    return nodes[::-1]


@pytest.mark.parametrize("qyaml", list(SHAPES.values()), ids=list(SHAPES))
def test_fastpath_plan_has_no_unbounded_following_frame(spark, qyaml):
    assert "unboundedfollowing" not in _fast_plan(spark, qyaml).lower()


def test_absence_plans_have_no_unbounded_following_frame(spark):
    for plan in _absence_plans(spark):
        assert "windowspecdefinition" in plan
        assert "unboundedfollowing" not in plan.lower()


def test_asof_plans_have_no_unbounded_following_frame(spark):
    for plan in _asof_plans(spark):
        assert "windowspecdefinition" in plan
        assert "unboundedfollowing" not in plan.lower()


@pytest.mark.parametrize("qyaml", list(RELAXED.values()), ids=list(RELAXED))
def test_relaxed_chain_link_windows_share_one_exchange_and_sort(spark, qyaml):
    query = Query.from_yaml(qyaml)
    nodes = _nodes_bottom_up(_fast_plan(spark, qyaml))
    links = [
        i for i, (op, line) in enumerate(nodes)
        if op == "Window" and ("lag(" in line or "last(" in line)
    ]
    assert len(links) == len(query.names) - 1
    below = [op for op, _ in nodes[: links[-1]] if op in ("Exchange", "Sort")]
    assert below == ["Exchange", "Sort"]
    # The only other Sort feeds the match_seq window; no second shuffle.
    assert [op for op, _ in nodes].count("Exchange") == 1
    assert [op for op, _ in nodes].count("Sort") == 2


MERGED = {
    "chain3": Q_CHAIN,
    "strict-relaxed": _chain_yaml(["strict", "relaxed"]),
    "strict-lpat-2-4": Q_LPAT_2_4,
}


@pytest.mark.parametrize("qyaml", list(MERGED.values()), ids=list(MERGED))
def test_strict_shapes_shuffle_once(spark, qyaml):
    """One Exchange; SHAPES covers the frames of these plans."""
    nodes = _nodes_bottom_up(_fast_plan(spark, qyaml))
    assert [op for op, _ in nodes].count("Exchange") == 1


def test_bounded_strict_loop_reads_no_following_rows(spark):
    """No ``rowsBetween(currentRow, m-1)`` frame: a bounded loop is
    sized per island, not by a window over the next m rows."""
    plan = _fast_plan(spark, Q_LPAT_2_4)
    ends = re.findall(r"specifiedwindowframe\(RowFrame, [^,]+, (-?\d+)\)", plan)
    assert all(int(e) <= 0 for e in ends), ends


def test_strict_chain_links_share_one_window(spark):
    nodes = _nodes_bottom_up(_fast_plan(spark, Q_CHAIN))
    links = [line for op, line in nodes if op == "Window" and "row_number()" not in line]
    assert len(links) == 1


def _per_key_sort(plan: str) -> list[str]:
    """The keys of the plan's first Sort, the one that orders each key's
    rows: attribute ids dropped, a reverse read mirrored back."""
    line = next(line for op, line in _nodes_bottom_up(plan) if op == "Sort")
    keys = re.search(r"Sort \[(.*)\], (?:true|false)", line).group(1)
    keys = re.sub(r"#\d+L?", "", keys).replace("DESC NULLS FIRST", "ASC NULLS LAST")
    return keys.split(", ")


def test_every_per_key_sort_reads_the_one_order_rule(spark):
    kernel = match_pattern(
        _df(spark, STREAM), Query.from_yaml(Q_CHAIN), order_by="id",
        partition_by="user_id", type_col="type", allow_fastpath=False,
    )
    rule = _per_key_sort(_plan(kernel))
    assert rule == ["user_id ASC NULLS FIRST"] + [
        f"{c} ASC NULLS LAST" for c in ("id", "type", "name", "price")
    ]
    for qyaml in (Q_CHAIN, Q_REL_PAIR, SHAPES["ndrelaxed3"], Q_LPAT_2_4):
        assert _per_key_sort(_fast_plan(spark, qyaml)) == rule
    nav = match_recognize(
        _df(spark, STREAM),
        """PARTITION BY user_id ORDER BY id MEASURES COUNT(B.*) AS n
           PATTERN (A B+) DEFINE B AS PREV(price) < B.price""",
    )
    assert _per_key_sort(_plan(nav)) == rule
