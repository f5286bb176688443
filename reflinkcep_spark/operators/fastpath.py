"""Catalyst fast paths for patterns that don't need the NFA kernel.

Three pattern shapes run entirely JVM-side (whole-stage codegen, no
Python, no Arrow transfer):

1. **Single ``spat``** → a plain ``filter`` — predicate pushdown can
   reach the parquet scan.
2. **All-strict chains of ``spat``** (``a · b · c``) → ``lead()``
   window conjunctions: a match is L consecutive rows each satisfying
   its leaf condition.
3. **Strict, non-iterative bounded loops** (``lpat`` with
   ``contiguity: strict``, no data variables, no until) → a sliding
   ``collect_list`` window + higher-order functions computing the
   satisfying-prefix length, exploded into one row per admissible
   length.
4. **Mixed strict/relaxed ``spat`` chains** of any length
   (``a · b ∘ c`` …) → backward propagation of "the first event the
   automaton cannot skip" as nested structs over the key's rows in
   reverse order: a running ``last(ignorenulls)`` (relaxed links) or
   ``lag`` (strict links); one sort shared by every link window, each
   linear in the key's length, no join.
5. **All-nd-relaxed ``spat`` chains** (``a ⊙ b ⊙ c``,
   ``followedByAny``) → a cascade of equi-joins on the partition keys
   with a range predicate per link on each row's rank in its key
   (every increasing tuple of qualifying events is a match).

Output schema matches the kernel's
(keys | match_seq | start_ord | end_ord | per-name capture arrays), so
``match_pattern`` can dispatch transparently.  Like the kernel, every
plan orders a key's rows with NULL ``order_by`` values last.  Match
*sets* are identical to the kernel; emission order (hence
``match_seq`` numbering) can differ for shape 3, where the kernel
orders by completion event and the fast path by start.
Fast paths decline (return ``None``) whenever after-match skip
strategies or iterative state would change results — those run in
the kernel.

Equivalence with the kernel is asserted over the golden corpus in
tests/test_fastpath.py.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from reflinkcep_spark.cep.expr import to_sql
from reflinkcep_spark.cep.query import Query

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
        # pre-round-8 leaf-only limit mirrored the reference's refusal;
        # the kernel now accepts nested rights, and kernel/fast-path
        # parity is pinned by tests/test_nested_combine.py.
        return left[0] + right[0], left[1] + [node["contiguity"]] + right[1]
    return None


def _strict_simple_lpat(node: Mapping) -> Optional[Mapping]:
    if (
        node["type"] == "lpat"
        and node["loop"]["contiguity"] == "strict"
        and not node.get("variables")
        and "until" not in node  # until on finite lpat is a no-op anyway
    ):
        return node
    return None


def _strict_simple_lpat_inf(node: Mapping) -> Optional[Mapping]:
    if (
        node["type"] == "lpat-inf"
        and node["loop"]["contiguity"] == "strict"
        and not node.get("variables")
        and "until" not in node
    ):
        return node
    return None


def _leaf_condition_sql(
    leaf: Mapping, type_col: Optional[str], column_map: Mapping[str, str] | None = None
) -> str:
    sql = to_sql(str(leaf["cndt"]["expr"]), column_map)
    if type_col is not None:
        tc = (column_map or {}).get(type_col, type_col)
        ev = str(leaf["event"]).replace("'", "''")
        sql = f"({tc} = '{ev}') AND ({sql})"
    return sql


def try_fast_path(
    df: DataFrame,
    query: Query,
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> Optional[DataFrame]:
    """Return a pure-DataFrame plan for ``query`` or ``None``."""
    try:
        chain = _spat_chain(query.patseq)
        if chain is not None:
            leaves, links = chain
            names = [leaf["name"] for leaf in leaves]
            if len(set(names)) != len(names):
                return None
            if len(leaves) == 1 or all(c == "strict" for c in links):
                if len(leaves) > 1 and query.strategy == "SkipPastLastEvent":
                    return None
                return _plan_spat_chain(
                    df, leaves, order_by=order_by, keys=keys,
                    type_col=type_col, attr_cols=attr_cols,
                )
            # SkipToNext is a no-op on strict/relaxed chains: runs are
            # deterministic, so each start offset emits at most one
            # match anyway (relaxed links take the FIRST qualifying
            # event).  SkipPastLastEvent is order-dependent → kernel.
            if all(c in ("strict", "relaxed") for c in links):
                if query.strategy in ("NoSkip", "SkipToNext"):
                    return _plan_relaxed_chain(
                        df, leaves, links, query, order_by=order_by,
                        keys=keys, type_col=type_col, attr_cols=attr_cols,
                    )
                return None
            # nd-relaxed links branch one run per qualifying event —
            # only NoSkip preserves the plain cross-product semantics.
            if all(c == "nd-relaxed" for c in links):
                if query.strategy == "NoSkip":
                    return _plan_nd_chain(
                        df, leaves, order_by=order_by, keys=keys,
                        type_col=type_col, attr_cols=attr_cols,
                    )
                return None
            return None
        lpat = _strict_simple_lpat(query.patseq)
        if lpat is not None and query.strategy == "NoSkip":
            return _plan_strict_lpat(
                df, lpat, order_by=order_by, keys=keys,
                type_col=type_col, attr_cols=attr_cols,
            )
        lpi = _strict_simple_lpat_inf(query.patseq)
        if lpi is not None and query.strategy in ("NoSkip", "SkipToNext"):
            return _plan_strict_lpat_inf(
                df, lpi, query.strategy, order_by=order_by, keys=keys,
                type_col=type_col, attr_cols=attr_cols,
            )
    except Exception:
        return None  # anything untranslatable falls back to the kernel
    return None


def _plan_relaxed_chain(
    df: DataFrame,
    leaves: list[Mapping],
    links: list[str],
    query: Query,
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Mixed strict/relaxed spat chain (``a · b ∘ c`` …), any length.

    Runs are deterministic: after taking leaf ``l``, a relaxed link
    skips events until the FIRST event the automaton cannot ignore —
    a qualifying leaf ``l+1`` event (take) or an event of an
    undeclared type (run death: relaxed ignore edges are enumerated
    from the declared schema, reference compile.py:414-453).  A strict
    link admits only the immediately next row.

    Plan: propagate BACKWARD from the last leaf.  For each leaf
    ``l ≥ 1`` compute per-row ``__m{l}`` = the resolution of link
    ``l-1`` seen from this row, as an ``(ord, hit, event, tail)``
    struct.  Every link window reads the key's rows in REVERSE order
    (``order_by`` descending, NULLs first: the kernel feeds NULL stamps
    last), so the rows after this one are the rows already seen: a
    relaxed link is the ``last`` non-null blocking struct over the
    running frame ``(unbounded preceding, -1)`` — the nearest blocking
    row after this one — and a strict link is ``lag(…, 1)``.  Spark
    updates a running frame per row, so each link costs O(n) per key
    (a ``(1, unbounded following)`` frame is recomputed for every row:
    O(n²)).  The ``tail`` field carries the already-computed
    ``__m{l+1}`` of the RESOLVING row, so one chained struct per start
    row encodes the entire (unique) run.  One sort serves all L-1 link
    windows; no join, no Python.
    """
    base = df.select(*keys, *attr_cols)
    L = len(leaves)
    w_rev = Window.partitionBy(*keys).orderBy(F.col(order_by).desc_nulls_first())
    w_seen = w_rev.rowsBetween(Window.unboundedPreceding, -1)
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])
    declared = (
        [str(t) for t in query.schema.keys()] if type_col is not None else None
    )

    cur = base
    tail_col: Optional[str] = None
    for l in range(L - 1, 0, -1):
        is_l = F.expr(_leaf_condition_sql(leaves[l], type_col))
        fields = [F.col(order_by).alias("o"), is_l.alias("hit"), ev.alias("ev")]
        if tail_col is not None:
            fields.append(F.col(tail_col).alias("tail"))
        payload = F.struct(*fields)
        if links[l - 1] == "strict":
            m = F.lag(payload, 1).over(w_rev)
        else:
            blocking = is_l
            if declared is not None:
                blocking = blocking | ~F.col(type_col).isin(declared)
            # Nearest blocking row after this one.  Not ``min`` over the
            # structs: a NULL ``o`` would sort first there.
            m = F.last(F.when(blocking, payload), ignorenulls=True).over(w_seen)
        tail_col = f"__m{l}"
        cur = cur.select("*", m.alias(tail_col))

    # Walk the nested struct: paths[j] resolves leaf j+1 for a run
    # starting at this row.  The innermost struct has no "tail".
    paths = [F.col(tail_col)]
    for _ in range(2, L):
        paths.append(paths[-1]["tail"])
    pred = F.expr(_leaf_condition_sql(leaves[0], type_col))
    for p in paths:
        pred = pred & p.isNotNull() & p["hit"]
    matched = cur.filter(pred)

    end_o = paths[-1]["o"]
    mw = Window.partitionBy(*keys).orderBy(
        end_o.asc_nulls_last(), F.col(order_by).asc_nulls_last()
    )
    return matched.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.col(order_by).alias("start_ord"),
        end_o.alias("end_ord"),
        F.array(ev).alias(leaves[0]["name"]),
        *[
            F.array(paths[l - 1]["ev"]).alias(leaves[l]["name"])
            for l in range(1, L)
        ],
    )


def _plan_nd_chain(
    df: DataFrame,
    leaves: list[Mapping],
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """All-nd-relaxed spat chain (``followedByAny``): ANY event —
    matching or not, declared or not — may be skipped (ignore edges
    guarded by ``ANY_TYPE``, reference compile.py:454-472), so the
    match set is every strictly increasing tuple of qualifying events.
    Cascade of equi-joins on the partition keys with a range predicate
    per link; Catalyst picks broadcast/sort-merge per side sizes.  The
    links compare each row's rank in its key (``row_number``, NULL
    ``order_by`` values last, as the kernel feeds them), not the raw
    values: a NULL compares as nothing and would drop its row.
    Emission order differs from the kernel (which orders by run age at
    each completing event); match sets are identical.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc_nulls_last())
    base = df.select(*keys, *attr_cols, F.row_number().over(w).alias("__rank"))
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])
    frontier: Optional[DataFrame] = None
    for j, leaf in enumerate(leaves):
        is_j = F.expr(_leaf_condition_sql(leaf, type_col))
        side = base.filter(is_j).select(
            *keys, F.col("__rank").alias(f"__r{j}"), ev.alias(f"__e{j}")
        )
        if frontier is None:
            frontier = side
        elif keys:
            frontier = frontier.join(side, on=list(keys), how="inner").filter(
                F.col(f"__r{j - 1}") < F.col(f"__r{j}")
            )
        else:
            frontier = frontier.crossJoin(side).filter(
                F.col(f"__r{j - 1}") < F.col(f"__r{j}")
            )

    L = len(leaves)
    ranks = [F.col(f"__r{j}") for j in range(L)]
    mw = Window.partitionBy(*keys).orderBy(ranks[-1], *ranks[:-1])
    return frontier.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.col("__e0")[order_by].alias("start_ord"),
        F.col(f"__e{L - 1}")[order_by].alias("end_ord"),
        *[F.array(F.col(f"__e{j}")).alias(leaf["name"]) for j, leaf in enumerate(leaves)],
    )


def _plan_spat_chain(
    df: DataFrame,
    chain: list[Mapping],
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    base = df.select(*keys, *attr_cols)
    L = len(chain)
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc_nulls_last())

    # Offset j's event attributes live in lead(col, j).
    cols = list(base.columns)
    for j in range(1, L):
        for c in attr_cols:
            cols.append(F.lead(c, j).over(w).alias(f"__l{j}_{c}"))
    staged = base.select(*cols)

    conds = [F.expr(_leaf_condition_sql(chain[0], type_col))]
    for j in range(1, L):
        cmap = {c: f"__l{j}_{c}" for c in attr_cols}
        conds.append(F.expr(_leaf_condition_sql(chain[j], type_col, cmap)))
    pred = conds[0]
    for c in conds[1:]:
        pred = pred & c
    matched = staged.filter(pred)

    def event_struct(j: int):
        if j == 0:
            return F.struct(*[F.col(c).alias(c) for c in attr_cols])
        return F.struct(*[F.col(f"__l{j}_{c}").alias(c) for c in attr_cols])

    end_ord = F.col(order_by) if L == 1 else F.col(f"__l{L - 1}_{order_by}")
    out = matched.select(
        *keys,
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("match_seq"),
        F.col(order_by).alias("start_ord"),
        end_ord.alias("end_ord"),
        *[
            F.array(event_struct(j)).alias(leaf["name"])
            for j, leaf in enumerate(chain)
        ],
    )
    return out


def _plan_strict_lpat_inf(
    df: DataFrame,
    node: Mapping,
    strategy: str,
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Strict unbounded loop (``oneOrMore``/``timesOrMore(n)``,
    consecutive) via gaps-and-islands.  A maximal run ("island") of
    adjacent qualifying rows of length M contains every match:

    * ``NoSkip`` — every sub-run of length >= n (the automaton may
      stop accepting at any length);
    * ``SkipToNext`` — exactly the length-``n`` sub-run at each start
      offset: the first acceptance for a start index completes at its
      n-th event, and the strategy then kills that start's remaining
      runs (reference executor.py:81-83).

    Output size is inherently quadratic in island length under NoSkip
    — identical to the kernel's match set, but produced by one sort +
    one ``(keys, island)`` aggregation instead of per-event run-set
    bookkeeping in Python."""
    n = max(int(node["loop"]["from"]), 1)
    name = node["name"]

    base = df.select(*keys, *attr_cols)
    cond = F.expr(_leaf_condition_sql(node, type_col))
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc_nulls_last())
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])

    # Islands: adjacency is judged on the FULL per-key stream (strict
    # contiguity), so row-number before filtering; after filtering,
    # rn - row_number is constant exactly within a maximal run.  The
    # row number also orders each island (NULL stamps last, as the
    # kernel feeds them).
    qual = base.select(
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
    if strategy == "NoSkip":
        sl = F.flatten(
            F.transform(
                F.sequence(F.lit(1), M - n + 1),
                lambda s: F.transform(
                    F.sequence(F.lit(n), M - s + 1),
                    lambda L: F.struct(s.alias("s"), L.alias("L")),
                ),
            )
        )
    else:  # SkipToNext: one fixed-length-n match per start offset
        sl = F.transform(
            F.sequence(F.lit(1), M - n + 1),
            lambda s: F.struct(s.alias("s"), F.lit(n).alias("L")),
        )

    capture = F.transform(
        F.slice("__arr", F.col("__sl.s"), F.col("__sl.L")), lambda x: x["ev"]
    )
    exploded = islands.select(*keys, "__arr", F.explode(sl).alias("__sl")).select(
        *keys, capture.alias("__cap")
    )
    start_o = F.element_at("__cap", 1)[order_by]
    end_o = F.element_at("__cap", -1)[order_by]
    mw = Window.partitionBy(*keys).orderBy(
        end_o.asc_nulls_last(), start_o.asc_nulls_last()
    )
    return exploded.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        start_o.alias("start_ord"),
        end_o.alias("end_ord"),
        F.col("__cap").alias(name),
    )


def _plan_strict_lpat(
    df: DataFrame,
    node: Mapping,
    *,
    order_by: str,
    keys: Sequence[str],
    type_col: Optional[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Strict {n,m} loop: for every row, look at the next m rows; the
    length of the satisfying prefix bounds the admissible match
    lengths, one output row per length in [n, prefix]."""
    n = max(int(node["loop"]["from"]), 1)
    m = int(node["loop"]["to"])
    name = node["name"]

    base = df.select(*keys, *attr_cols)
    cond = F.expr(_leaf_condition_sql(node, type_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_by).asc_nulls_last())
        .rowsBetween(Window.currentRow, m - 1)
    )
    ev = F.struct(*[F.col(c).alias(c) for c in attr_cols])
    staged = base.select(
        *keys,
        F.col(order_by).alias("__ord"),
        cond.alias("__ok"),
        F.collect_list(F.struct(cond.alias("ok"), ev.alias("ev"))).over(w).alias("__win"),
    ).filter(F.col("__ok"))

    # Length of the all-satisfying prefix of the m-row window.
    prefix = F.aggregate(
        F.col("__win"),
        F.struct(F.lit(0).alias("n"), F.lit(False).alias("stop")),
        lambda acc, x: F.struct(
            F.when(acc.stop | ~x.ok, acc.n).otherwise(acc.n + 1).alias("n"),
            (acc.stop | ~x.ok).alias("stop"),
        ),
    )["n"]

    # Guard prefix >= n: Spark's sequence() would otherwise count DOWN.
    lens = (
        staged.withColumn("__prefix", prefix)
        .filter(F.col("__prefix") >= n)
        .select(
            *keys,
            F.col("__ord"),
            F.col("__win"),
            F.explode(
                F.sequence(F.lit(n), F.least(F.lit(m), F.col("__prefix")))
            ).alias("__len"),
        )
    )

    capture = F.slice(F.transform(F.col("__win"), lambda x: x.ev), 1, F.col("__len"))
    mw = Window.partitionBy(*keys).orderBy(F.col("__ord").asc_nulls_last(), "__len")
    out = lens.select(
        *keys,
        (F.row_number().over(mw) - F.lit(1)).cast("long").alias("match_seq"),
        F.col("__ord").alias("start_ord"),
        F.element_at(capture, -1)[order_by].alias("end_ord"),
        capture.alias(name),
    )
    return out
