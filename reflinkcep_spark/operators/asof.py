"""As-of join: for each left row, the most recent right row at or
before it, per key.

Physical strategy: tag the two inputs, union them, and run ONE ordered
window pass per key — ``last(right_row, ignorenulls=True)`` over rows
``unboundedPreceding..current``, with each right row's carried columns
as one struct (non-NULL even where its fields are), carries the latest
right row forward onto every left row.  Cost = one shuffle on the key +
one sort, which is the floor for any per-key order-sensitive operator.

The naive alternatives do not survive scale: an inequality
(``l.ts >= r.ts``) join degenerates to a per-key cross product, and a
"latest right per left via groupBy-max then equi-join" is two extra
shuffles.  The union-window shape is also AQE/skew-join friendly
because the single shuffle is a plain hash partitioning on the key.

Semantics match DuckDB's ``ASOF LEFT JOIN ... ON l.k = r.k AND
l.on >= r.on`` (inclusive; left rows with no prior right row get
NULLs), which is exactly what the driver oracle runs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    right_cols: Sequence[str],
    suffix: str = "",
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join ``left`` with ``right`` on ``on`` per ``by`` key.

    ``direction="backward"`` (default): every ``left`` row gains
    ``right_cols`` (plus ``suffix``) from the right row with the
    greatest ``on`` value <= the left row's.  ``direction="forward"``:
    from the right row with the SMALLEST ``on`` value >= the left
    row's (pandas ``merge_asof`` directions; both inclusive — ties on
    ``on`` match).  Left rows with no qualifying right row get NULLs.
    Output = all left rows and columns, in arbitrary order.  Same
    single-shuffle union+window plan either way.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown asof direction {direction!r}")
    keys = [by] if isinstance(by, str) else list(by)
    right_cols = list(right_cols)
    out_right = [c + suffix for c in right_cols]

    # A carried column whose output name already exists on the left
    # would silently emit a duplicate column (suffix='' collision) or
    # be merged by unionByName — fail loudly instead.
    clash = [o for o in out_right if o in left.columns]
    if clash:
        raise ValueError(
            f"asof_join output column(s) {clash} already exist in the left "
            f"frame; pass a non-empty suffix or rename the right columns"
        )
    if len(set(out_right)) != len(out_right):
        raise ValueError(f"duplicate right_cols after suffix: {out_right}")

    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(*keys, on, *right_cols).withColumn("__side", F.lit(0))
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    # One running frame either way: `last(ignorenulls)` carries the
    # nearest right row seen so far onto each left row, as one struct,
    # so a right row whose carried values are NULL still counts.  Right
    # rows sort before left rows at equal `on` (__side 0 < 1), so `last`
    # sees same-instant rights — the inclusive as-of semantics.
    # Forward reads the key in reverse (`on` descending), so the right
    # seen last is the earliest one at or after the left row.  NULL
    # `on` rows sort last either way, so a NULL right row reaches no
    # left row with an `on` value (DuckDB's as-of semantics).  A
    # running frame is updated per row; a (current, unbounded
    # following) frame would be recomputed per row, quadratic in the
    # key's length.
    on_col = F.col(on)
    order = on_col.asc_nulls_last() if direction == "backward" else on_col.desc_nulls_last()
    w = (
        Window.partitionBy(*keys)
        .orderBy(order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    row = F.struct(*[F.col(c).alias(o) for c, o in zip(right_cols, out_right)])
    carried = F.last(F.when(F.col("__side") == 0, row), ignorenulls=True).over(w)
    return (
        unioned.select(*left.columns, "__side", carried.alias("__right"))
        .filter(F.col("__side") == 1)
        .select(*left.columns, *[F.col("__right")[o].alias(o) for o in out_right])
    )
