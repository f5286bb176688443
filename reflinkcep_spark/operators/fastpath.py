"""Catalyst fast paths for patterns that don't need the NFA kernel.

Three planners run their pattern shapes entirely JVM-side (whole-stage
codegen, no Python, no Arrow transfer):

1. **Strict/relaxed ``spat`` chains** of any length (``a``,
   ``a · b · c``, ``a · b ∘ c`` …) → ``_plan_chain``: backward
   propagation of "the first event the automaton cannot skip" as
   nested structs over the key's rows in reverse order.  A block of
   strict links reads its leaves at fixed ``lag`` offsets in one
   window; a relaxed link is a running ``last(ignorenulls)``.  One sort
   serves every link window, each linear in the key's length, no join.
   A single ``spat`` is a plain ``filter`` that predicate pushdown can
   take down to the parquet scan.
2. **All-nd-relaxed ``spat`` chains** (``a ⊙ b ⊙ c``,
   ``followedByAny``) → ``_plan_nd_chain``: a cascade of equi-joins on
   the partition keys with a range predicate per link on each row's
   rank in its key (every increasing tuple of qualifying events is a
   match).
3. **Strict, non-iterative loops**, bounded or not (``lpat`` or
   ``lpat-inf`` with ``contiguity: strict``, no data variables, no
   until) → ``_plan_strict_loop``: gaps-and-islands, one aggregation
   per maximal run of adjacent qualifying rows, exploded into its
   admissible sub-runs.

Output schema matches the kernel's
(keys | match_seq | start_ord | end_ord | per-name capture arrays), so
``match_pattern`` can dispatch transparently.  Every plan orders a
key's rows by the kernel's rule (:func:`reflinkcep_spark.cep.keyed.order_cols`:
``order_by`` with NULLs last, ties broken by the type and the other
atomic columns), and numbers matches by that rule, never by raw order
values.  Match sets are identical to the kernel's, and so is emission
order (hence ``match_seq`` numbering) except for nd-relaxed chains,
where the kernel orders a completing event's matches by run age.
Every dispatch rule lives in :func:`try_fast_path`, which reads the
operator's :class:`~reflinkcep_spark.cep.keyed.KeyedPlan` (keys,
projection, order columns, type column, the query with its reserved
untyped type) and never works them out again.  It declines (returns
``None``) under SQL selection, under ``within`` with a separate stamp
column, and wherever after-match skip strategies or iterative state
would change results — those run in the kernel.  ``within`` is a span
filter over the plan's matches: every shape planned under a skip
strategy emits at most one match per start, or one-event matches.

Equivalence with the kernel is asserted over the golden corpus in
tests/test_fastpath.py.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reflinkcep_spark.cep.expr import to_sql
from reflinkcep_spark.cep.keyed import KeyedPlan, sort_exprs

__all__ = ["try_fast_path"]


def _spat_chain(node: Mapping) -> Optional[tuple[list[Mapping], list[str]]]:
    """Flatten ``node`` into ``(leaves, links)`` if it is a
    concatenation of simple (variable-free) spats; ``links[i]`` is the
    contiguity between ``leaves[i]`` and ``leaves[i+1]``."""
    t = node["type"]
    if t == "spat":
        return None if node.get("variables") else ([node], [])
    if t == "gpat":
        return _spat_chain(node["child"])
    if t == "combine" and node["contiguity"] in ("strict", "relaxed", "nd-relaxed"):
        left = _spat_chain(node["left"])
        right = _spat_chain(node["right"])
        if left is None or right is None:
            return None
        # A non-strict combine whose right child flattens to a chain is
        # the chain with the combine's contiguity on the gap BEFORE the
        # right's first leaf (the compiler's ε-closure construction
        # degenerates to exactly this for spat chains — the closure of
        # a chain's start holds one take edge, the first leaf's).  The
        # reference refuses nested rights; the kernel accepts them, and
        # kernel/fast-path parity is pinned by
        # tests/test_nested_combine.py.
        return left[0] + right[0], left[1] + [node["contiguity"]] + right[1]
    return None


def _strict_simple_loop(node: Mapping) -> Optional[Mapping]:
    """``node`` if it is a strict loop, bounded (``lpat``) or not
    (``lpat-inf``), with no data variables and no until."""
    if (
        node["type"] in ("lpat", "lpat-inf")
        and node["loop"]["contiguity"] == "strict"
        and not node.get("variables")
        and "until" not in node  # until on finite lpat is a no-op anyway
    ):
        return node
    return None


def _leaf_condition_sql(leaf: Mapping, type_col: Optional[str]) -> str:
    sql = to_sql(str(leaf["cndt"]["expr"]))
    if type_col is not None:
        ev = str(leaf["event"]).replace("'", "''")
        sql = f"({type_col} = '{ev}') AND ({sql})"
    return sql


def try_fast_path(df: DataFrame, plan: KeyedPlan) -> Optional[DataFrame]:
    """A pure-DataFrame plan for ``plan``'s query over ``df``, the
    operator's projection (``plan.keys`` then ``plan.attr_cols``), or
    ``None`` where the kernel must run.  Every dispatch rule lives here."""
    query = plan.query
    # SQL selection reduces the kernel's emission per start row; a fast
    # plan produces the unselected emission only.
    if plan.sql_skip is not None:
        return None
    # ``within`` composes as a span filter over the plan's matches: under
    # NoSkip the emission equals the kernel's, and under a skip strategy
    # every shape planned below emits at most one match per start, or
    # one-event matches, so no over-long match changes which match is
    # emitted.  A decoupled stamp column is not in the output: kernel.
    if plan.within is not None and plan.stamp_col != plan.order_by:
        return None
    try:
        chain = _spat_chain(query.patseq)
        if chain is not None:
            leaves, links = chain
            names = [leaf["name"] for leaf in leaves]
            if len(set(names)) != len(names):
                return None
            # Strict/relaxed runs are deterministic: each start offset
            # emits at most one match (a relaxed link takes the FIRST
            # qualifying event), so SkipToNext is a no-op.  The other
            # skip strategies prune runs by the events earlier matches
            # took → kernel, unless a match is one event long.
            if all(c in ("strict", "relaxed") for c in links) and (
                len(leaves) == 1 or query.strategy in ("NoSkip", "SkipToNext")
            ):
                fast = _plan_chain(df, plan, leaves, links)
            # nd-relaxed links branch one run per qualifying event —
            # only NoSkip preserves the plain cross-product semantics.
            elif all(c == "nd-relaxed" for c in links) and query.strategy == "NoSkip":
                fast = _plan_nd_chain(df, plan, leaves)
            else:
                return None
        else:
            loop = _strict_simple_loop(query.patseq)
            if loop is None or not (
                query.strategy == "NoSkip"
                or (query.strategy == "SkipToNext" and loop["type"] == "lpat-inf")
            ):
                return None
            fast = _plan_strict_loop(df, plan, loop)
    except Exception:
        return None  # anything untranslatable falls back to the kernel
    if plan.within is not None:
        # A one-event match has no span to bound, so a NULL order value
        # (NULL - NULL) keeps it, as the kernel does; a longer match with
        # one is pruned on both paths.
        one_event = sum(F.size(n) for n in plan.names) == 1
        fast = fast.filter(
            ((F.col("end_ord") - F.col("start_ord")) <= F.lit(plan.within)) | one_event
        )
    return fast


def _plan_chain(
    df: DataFrame, plan: KeyedPlan, leaves: list[Mapping], links: list[str]
) -> DataFrame:
    """Strict/relaxed spat chain (``a · b ∘ c`` …), any length.

    Runs are deterministic: after taking leaf ``l``, a relaxed link
    skips events until the FIRST event the automaton cannot ignore —
    a qualifying leaf ``l+1`` event (take) or an event of an
    undeclared type (run death: relaxed ignore edges are enumerated
    from the declared schema, reference compile.py:414-453).  A strict
    link admits only the immediately next row.

    Plan: propagate BACKWARD from the last leaf.  Column ``__m{l}``
    holds, per row, the resolution of leaf ``l`` for a run that took
    leaf ``l-1`` at this row, as a ``(hit, ev, tail)`` struct.
    Every link window reads the key's rows in REVERSE order (the exact
    mirror of the kernel's rule: each column descending, NULLs first),
    so the rows after this one are the rows already seen:

    * a relaxed link is the ``last`` non-null blocking struct over the
      running frame ``(unbounded preceding, -1)`` — the nearest
      blocking row after this one.  Spark updates a running frame per
      row, so this costs O(n) per key (a ``(1, unbounded following)``
      frame is recomputed for every row: O(n²));
    * a maximal block of k strict links after leaf ``i`` reads leaves
      ``i+1 … i+k`` at the fixed offsets ``1 … k`` in one window: each
      field is a ``lag`` of a plain column or condition (``ev`` is a
      struct of per-column lags, not a lagged struct).

    The ``tail`` field carries the resolution of the next leaf seen
    from the RESOLVING row (for a strict block's last leaf, a ``lag``
    by k of the column computed before), so one chained struct per
    start row encodes the entire (unique) run.  One sort serves every
    link window; no join, no Python.  A single spat has no link: its
    match starts and ends on its row.  ``match_seq`` numbers matches by
    the rule's columns of the end row, then of the start row, read from
    the ``ev`` structs.
    """
    keys, attr_cols, type_col = plan.keys, plan.attr_cols, plan.type_col
    order, order_by = plan.order_cols, plan.order_by
    L = len(leaves)
    w_rev = Window.partitionBy(*keys).orderBy(*sort_exprs(order, reverse=True))
    w_seen = w_rev.rowsBetween(Window.unboundedPreceding, -1)
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])
    declared = (
        [str(t) for t in plan.query.schema.keys()] if type_col is not None else None
    )

    def is_leaf(l: int):
        return F.expr(_leaf_condition_sql(leaves[l], type_col))

    cur = df
    tail_col: Optional[str] = None
    j = L - 1  # the last leaf not yet resolved
    while j > 0:
        i = j - 1
        if links[i] == "strict":
            while i > 0 and links[i - 1] == "strict":
                i -= 1
            # Leaf i+t sits t rows after leaf i; build from the inside.
            m = None if tail_col is None else F.lag(F.col(tail_col), j - i).over(w_rev)
            for t in range(j - i, 0, -1):
                fields = [
                    F.lag(is_leaf(i + t), t).over(w_rev).alias("hit"),
                    F.struct(*[F.lag(c, t).over(w_rev).alias(c) for c in attr_cols]).alias("ev"),
                ]
                if m is not None:
                    fields.append(m.alias("tail"))
                m = F.struct(*fields)
        else:
            is_j = is_leaf(j)
            fields = [is_j.alias("hit"), ev.alias("ev")]
            if tail_col is not None:
                fields.append(F.col(tail_col).alias("tail"))
            payload = F.struct(*fields)
            blocking = is_j
            if declared is not None:
                blocking = blocking | ~F.col(type_col).isin(declared)
            # Nearest blocking row after this one, in the rule's order.
            m = F.last(F.when(blocking, payload), ignorenulls=True).over(w_seen)
        tail_col = f"__m{i + 1}"
        cur = cur.select("*", m.alias(tail_col))
        j = i

    # Walk the nested struct: paths[j] resolves leaf j+1 for a run
    # starting at this row.  The innermost struct has no "tail".
    paths = [F.col(tail_col)] if L > 1 else []
    for _ in range(2, L):
        paths.append(paths[-1]["tail"])
    pred = is_leaf(0)
    for p in paths:
        pred = pred & p.isNotNull() & p["hit"]
    matched = cur.filter(pred)

    end_ev = paths[-1]["ev"] if paths else ev
    mw = Window.partitionBy(*keys).orderBy(
        *sort_exprs([end_ev[c] for c in order] + order)
    )
    return matched.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.col(order_by).alias("start_ord"),
        end_ev[order_by].alias("end_ord"),
        F.array(ev).alias(leaves[0]["name"]),
        *[
            F.array(paths[l - 1]["ev"]).alias(leaves[l]["name"])
            for l in range(1, L)
        ],
    )


def _plan_nd_chain(df: DataFrame, plan: KeyedPlan, leaves: list[Mapping]) -> DataFrame:
    """All-nd-relaxed spat chain (``followedByAny``): ANY event —
    matching or not, declared or not — may be skipped (ignore edges
    guarded by ``ANY_TYPE``, reference compile.py:454-472), so the
    match set is every strictly increasing tuple of qualifying events.
    Cascade of equi-joins on the partition keys with a range predicate
    per link; Catalyst picks broadcast/sort-merge per side sizes.  The
    links compare each row's rank in its key (``row_number`` by the
    kernel's rule), not the raw ``order_by`` values: a NULL compares as
    nothing and would drop its row, and tied values would drop a match.
    Emission order differs from the kernel (which orders by run age at
    each completing event); match sets are identical.
    """
    keys, attr_cols, type_col = plan.keys, plan.attr_cols, plan.type_col
    w = Window.partitionBy(*keys).orderBy(*sort_exprs(plan.order_cols))
    base = df.select("*", F.row_number().over(w).alias("__rank"))
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])
    frontier: Optional[DataFrame] = None
    for j, leaf in enumerate(leaves):
        is_j = F.expr(_leaf_condition_sql(leaf, type_col))
        side = base.filter(is_j).select(
            *keys, F.col("__rank").alias(f"__r{j}"), ev.alias(f"__e{j}")
        )
        if frontier is None:
            frontier = side
        else:  # no keys: an inner join on no columns is a cross join
            frontier = frontier.join(side, list(keys) or None, "inner").filter(
                F.col(f"__r{j - 1}") < F.col(f"__r{j}")
            )

    L = len(leaves)
    ranks = [F.col(f"__r{j}") for j in range(L)]
    mw = Window.partitionBy(*keys).orderBy(ranks[-1], *ranks[:-1])
    return frontier.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.col("__e0")[plan.order_by].alias("start_ord"),
        F.col(f"__e{L - 1}")[plan.order_by].alias("end_ord"),
        *[F.array(F.col(f"__e{j}")).alias(leaf["name"]) for j, leaf in enumerate(leaves)],
    )


def _plan_strict_loop(df: DataFrame, plan: KeyedPlan, node: Mapping) -> DataFrame:
    """Strict loop, bounded (``times(n, m)``) or not
    (``oneOrMore``/``timesOrMore(n)``), via gaps-and-islands.  A maximal
    run ("island") of adjacent qualifying rows of length M contains
    every match:

    * ``NoSkip`` — every sub-run of an admissible length: from offset
      ``s``, the lengths ``n … min(m, M-s+1)`` (``m`` = ∞ for an
      unbounded loop; the automaton may stop accepting at any length);
    * ``SkipToNext`` — exactly the length-``n`` sub-run at each start
      offset: the first acceptance for a start index completes at its
      n-th event, and the strategy then kills that start's remaining
      runs (reference executor.py:81-83).

    Output size is inherently quadratic in island length under NoSkip
    — identical to the kernel's match set, but produced by one sort +
    one ``(keys, island)`` aggregation instead of per-event run-set
    bookkeeping in Python.  ``match_seq`` numbers matches by the row
    numbers of their (end, start) rows, the order the kernel emits them
    in."""
    n = max(int(node["loop"]["from"]), 1)
    m = int(node["loop"]["to"]) if node["type"] == "lpat" else None
    name = node["name"]
    keys, order_by = plan.keys, plan.order_by

    cond = F.expr(_leaf_condition_sql(node, plan.type_col))
    w = Window.partitionBy(*keys).orderBy(*sort_exprs(plan.order_cols))
    ev = F.struct(*[F.col(c).alias(c) for c in plan.attr_cols])

    # Islands: adjacency is judged on the FULL per-key stream (strict
    # contiguity), so row-number before filtering; after filtering,
    # rn - row_number is constant exactly within a maximal run.  The
    # row number, by the kernel's rule, also orders each island and
    # numbers the matches.
    qual = df.select(
        *keys,
        ev.alias("__ev"),
        F.row_number().over(w).alias("__rn"),
        cond.alias("__q"),
    ).filter(F.col("__q"))
    wq = Window.partitionBy(*keys).orderBy("__rn")
    islands = (
        qual.withColumn("__grp", F.col("__rn") - F.row_number().over(wq))
        .groupBy(*keys, "__grp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__rn").alias("rn"), F.col("__ev").alias("ev")))
            ).alias("__arr")
        )
        .filter(F.size("__arr") >= n)
    )

    M = F.size("__arr")
    if plan.query.strategy == "NoSkip":
        def longest(s):
            rest = M - s + 1
            return rest if m is None else F.least(F.lit(m), rest)

        sl = F.flatten(
            F.transform(
                F.sequence(F.lit(1), M - n + 1),
                lambda s: F.transform(
                    F.sequence(F.lit(n), longest(s)),
                    lambda L: F.struct(s.alias("s"), L.alias("L")),
                ),
            )
        )
    else:  # SkipToNext: one fixed-length-n match per start offset
        sl = F.transform(
            F.sequence(F.lit(1), M - n + 1),
            lambda s: F.struct(s.alias("s"), F.lit(n).alias("L")),
        )

    s, L = F.col("__sl.s"), F.col("__sl.L")
    sub = islands.select(*keys, "__arr", F.explode(sl).alias("__sl")).select(
        *keys,
        F.transform(F.slice("__arr", s, L), lambda x: x["ev"]).alias("__cap"),
        F.element_at("__arr", s)["rn"].alias("__s"),
        F.element_at("__arr", s + L - 1)["rn"].alias("__e"),
    )
    mw = Window.partitionBy(*keys).orderBy("__e", "__s")
    return sub.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.element_at("__cap", 1)[order_by].alias("start_ord"),
        F.element_at("__cap", -1)[order_by].alias("end_ord"),
        F.col("__cap").alias(name),
    )
