"""Absence (negation) patterns: Flink CEP's ``notFollowedBy`` (left
events NOT followed by a right event within a span) and ``notNext``
(left events whose IMMEDIATELY following event does not satisfy the
negated condition) for the ubiquitous two-step case — the reference
has no negation operator at all; Flink's is the public spec: a
pattern A¬B matches an A with no B after it inside the match window
(relaxed), or with the very next event failing B (strict).

Physical strategy mirrors :mod:`reflinkcep_spark.operators.asof` —
tag + union + ONE ordered window pass per key.  Each left row learns
the order-key of the first right row strictly after it: the window
reads the key's rows in reverse order, so that row is the ``last``
right row over the running frame ``(unbounded preceding, -1)``, which
Spark updates per row (a ``(1, unbounded following)`` frame would be
recomputed for every row: O(n²) per key).  The absence test is then a
pure per-row filter.  Cost = one shuffle on the key + one sort: the
floor for any per-key order-sensitive operator, and the same shape
whether the span is 30 seconds or unbounded.

The naive forms do not survive scale: ``LEFT ANTI JOIN ON l.k = r.k
AND r.on > l.on AND r.on <= l.on + within`` is an inequality join
(per-key cross product); a correlated NOT EXISTS decorrelates to the
same thing.  That anti-join IS what the driver oracle runs in DuckDB —
small-scale truth, not the plan we'd deploy.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["not_followed_by", "not_next"]


def not_followed_by(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    within=None,
    next_col: str = "next_right_on",
) -> DataFrame:
    """Left rows with NO right row in ``(l.on, l.on + within]`` per key.

    ``on`` must be a numeric order column present in both frames
    (convert timestamps to epoch micros upstream — exact integer
    arithmetic, no interval/timezone semantics to disagree on).
    ``within=None`` means "never followed": no right row after the left
    row at all.  A right row at exactly the same ``on`` is NOT a
    follower (strictly-after semantics, matching Flink's notFollowedBy
    between two pattern steps).

    Returns all left rows/columns plus ``next_col`` — the first right
    ``on`` strictly after the row (NULL if none) — already filtered to
    the absence survivors.  Keep ``next_col`` for auditability or drop
    it.
    """
    keys = [by] if isinstance(by, str) else list(by)
    if next_col in left.columns:
        raise ValueError(f"next_col {next_col!r} already exists in left frame")

    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(*keys, on).withColumn("__side", F.lit(0))
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))
    unioned = lhs.unionByName(rhs)

    # Reverse order: the frame (unbounded preceding, -1) holds the rows
    # after this one, the nearest last.  Right rows sort AFTER left rows
    # at equal `on` (__side 1 > 0), so the frame never contains a
    # same-instant right row — that's the strictly-after contract.  The
    # key reads NULLs last forward, so NULL-`on` rows come first here:
    # a NULL left row has no follower, as in the NOT EXISTS oracle.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(on).desc_nulls_first(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt: Column = F.last(
        F.when(F.col("__side") == 0, F.col(on)), ignorenulls=True
    ).over(w)

    out = unioned.select(*left.columns, "__side", nxt.alias(next_col)).filter(
        F.col("__side") == 1
    )
    absent = F.col(next_col).isNull()
    if within is not None:
        absent = absent | (F.col(next_col) > F.col(on) + F.lit(within))
    return out.filter(absent).drop("__side")


def not_next(
    left: DataFrame,
    stream: DataFrame,
    *,
    on: str,
    by: str | Sequence[str],
    cond: Column,
    next_col: str = "next_on",
) -> DataFrame:
    """Flink CEP ``notNext``: left rows whose IMMEDIATELY following
    event in the per-key ``stream`` does NOT satisfy ``cond`` (or that
    have no following event at all).  The strict sibling of
    :func:`not_followed_by` — per the public Flink docs, ``notNext(B)``
    rejects a match only when the very next event is a B; a B arriving
    LATER (with any other event in between) does not kill it, which is
    exactly where the two negations differ.

    ``left`` is typically a match-end frame (a filter of the stream, or
    ``match_pattern`` output re-keyed to its last event); ``stream`` is
    the full per-key event log the "next event" is defined over.
    ``cond`` is a boolean Column over ``stream``'s columns; a NULL
    evaluation counts as not-matching (SQL predicate semantics).
    ``on`` must be a numeric order column present in both frames and
    unique per key (an event id / sequence number).

    Same physical strategy as :func:`not_followed_by`: tag + union +
    ONE ordered window pass per key — cost is one shuffle on the key
    plus one sort, the floor for any per-key order-sensitive operator.
    (When ``left`` is just a filter of ``stream``, a bare
    ``lead() over (partition by key order by on)`` on the stream is the
    same plan minus the union — this operator exists for the general
    case where the probe rows carry columns the stream lacks.)

    Returns all left rows/columns plus ``next_col`` (the order key of
    the immediately following stream event, NULL if none), already
    filtered to the survivors.
    """
    keys = [by] if isinstance(by, str) else list(by)
    for c in (next_col, "__side", "__neg"):
        if c in left.columns:
            raise ValueError(f"column {c!r} already exists in left frame")

    # NULL cond is "not the negated event", never "skip this row": the
    # window below reads the NEAREST following side-0 row, so its flag
    # must be non-null or a null-cond event would be silently passed
    # over and a later event's flag read in its place.
    rhs = (
        stream.withColumn("__neg", F.coalesce(cond, F.lit(False)))
        .select(*keys, on, "__neg")
        .withColumn("__side", F.lit(0))
    )
    lhs = left.withColumn("__side", F.lit(1))
    for c in lhs.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))
    lhs = lhs.withColumn("__neg", F.lit(None).cast("boolean"))
    unioned = lhs.unionByName(rhs)

    # Reverse order: the frame (unbounded preceding, -1) holds the rows
    # after this one, the nearest last.  Stream rows sort AFTER probe
    # rows at equal `on` (__side 1 > 0): a probe row's own stream twin
    # is never in its frame, so "next" means strictly-after — Flink's
    # contract between steps.  The key reads NULLs last forward, as
    # ``LEAD … ORDER BY on`` does: a NULL-`on` probe has no next event,
    # and a NULL-`on` event is the next one after the key's last value.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(on).desc_nulls_first(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stream_only = lambda col: F.when(F.col("__side") == 0, col)  # noqa: E731
    nxt_on = F.last(stream_only(F.col(on)), ignorenulls=True).over(w)
    nxt_neg = F.last(stream_only(F.col("__neg")), ignorenulls=True).over(w)

    out = unioned.select(
        *left.columns,
        "__side",
        nxt_on.alias(next_col),
        nxt_neg.alias("__next_neg"),
    ).filter(F.col("__side") == 1)
    survives = F.col("__next_neg").isNull() | ~F.col("__next_neg")
    return out.filter(survives).drop("__side", "__next_neg")
