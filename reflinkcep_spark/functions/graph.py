"""Graph analytics over document/link tables.

The repo's connected-components resolver (functions/dedup.py,
pointer-jumping) handles the dedup-cluster graph; this module holds
the general-graph side, starting with the canonical iterative graph
algorithm:

:func:`pagerank_fixedpoint` — PageRank in scaled-integer arithmetic.
Floating-point PageRank is not reproducible across engines (per-node
in-mass sums are summation-order-dependent), so every step here is an
exact integer: ranks are integer mass units out of a total budget
``mass``, per-edge contributions are exact floor divisions by
out-degree, and the damping mix ``(1-d)·base + d·inmass`` is two
integer ``div``s with the damping factor a rational ``d_num/d_den``.
Mass lost to flooring and to dangling nodes (out-degree 0) is simply
not redistributed — a documented, deterministic choice both engines
make identically (the alternative, spreading residual mass, needs a
global float share).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_fixedpoint"]


def pagerank_fixedpoint(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 2,
    mass: int = 10**12,
    damping: tuple[int, int] = (85, 100),
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Scaled-integer PageRank: ``iters`` rounds of
    ``pr'(v) = (d_den-d_num)·base div d_den + d_num·inmass(v) div d_den``
    with ``base = mass div N``, ``inmass(v) = Σ_{u→v} pr(u) div
    outdeg(u)`` — every operation an exact positive-integer division,
    so the final rank vector is bit-identical on any engine.

    ``nodes`` carries ``id_col`` (one row per vertex; vertices keep
    their rank even with no in-edges), ``edges`` carries
    (src_col, dst_col) with parallel edges counted as extra weight.
    Dangling mass and floor residue are dropped, not redistributed
    (see module docstring).  Returns (id, pr) for every node.

    Scale shape per iteration: out-degrees are a static one-time keyed
    aggregate; then ONE src-keyed join (rank → edges) and ONE
    dst-keyed aggregate — the canonical edge-partitioned PageRank
    round, shuffling the EDGE table twice per iteration and the rank
    vector once, nothing quadratic anywhere.

    The static fan-out frames (edge list, out-degrees, base-rank
    vector — each referenced every round) are pinned with LAZY
    ``localCheckpoint`` — the CC resolver's lineage-truncation
    discipline
    (functions/dedup.py:duplicate_clusters).  Without it every
    reference re-derives the full upstream plan: at iters=2 the
    registered doc_link_pagerank query re-scanned (and re-exploded)
    the documents table 14 TIMES — one derivation per reference to
    ``e``/``base``/``outdeg``/``pr`` in the unrolled loop (14 scans
    → 1 with the pins).  Same trade as every lazy-checkpoint site in this
    package: lineage is destroyed, so an executor loss during the
    consuming job retries the job instead of recomputing the subtree.

    Overflow rail: ranks are bounded by ``mass`` (mass only ever
    leaks) and per-node in-mass sums are ≤ mass, but the damped mix
    MULTIPLIES by the rational's terms before dividing — the binding
    bound is ``mass · max(d_num, d_den−d_num) < 2⁶³``, enforced with
    a ValueError (Spark's non-ANSI arithmetic would wrap silently
    where the oracle's BIGINT raises — exactly the cross-engine
    divergence this module exists to rule out).  The default
    ``mass=10¹²`` sits five orders of magnitude inside it.
    """
    d_num, d_den = damping
    if not (0 < d_num < d_den):
        raise ValueError(f"damping must be a rational in (0, 1), got {d_num}/{d_den}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if mass <= 0 or mass > (2**63 - 1) // max(d_num, d_den - d_num):
        raise ValueError(
            f"mass {mass} overflows the damped mix: need 0 < mass <= "
            f"{(2**63 - 1) // max(d_num, d_den - d_num)} for damping {d_num}/{d_den}"
        )
    n = nodes.select(F.col(id_col).alias("id"))
    # Pin the frames the unrolled loop references more than once (edge
    # list: 2 refs/iter via outdeg + the inmass join; base: 1 ref/iter
    # + init; outdeg: 1 ref/iter) — lazy localCheckpoint, computed on
    # first action, lineage truncated (see docstring).
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )
    n_count = n.agg(F.count(F.lit(1)).alias("n_nodes"))
    base = (
        n.crossJoin(F.broadcast(n_count))
        .select("id", F.expr(f"CAST({mass} AS BIGINT) div n_nodes").alias("base"))
        .localCheckpoint(eager=False)
    )
    # pr itself is referenced ONCE per round (a linear chain), so it
    # needs no checkpoint at these small constant iteration counts —
    # only the fan-out frames above do.  A production run with tens of
    # iterations would pin pr per round too, purely to keep the plan
    # depth bounded.
    pr = base.select("id", F.col("base").alias("pr"))
    for _ in range(iters):
        contrib = (
            pr.join(outdeg, pr["id"] == outdeg["src"])
            .select(
                # take src from the RANK side: outdeg shares lineage
                # with e, and carrying its column into the e-join trips
                # Spark's ambiguous-self-join check.
                pr["id"].alias("src"),
                F.expr("pr div outdeg").alias("contrib"),
            )
        )
        inmass = (
            e.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inmass"))
        )
        pr = (
            base.join(inmass, base["id"] == inmass["dst"], "left")
            .select(
                "id",
                (
                    F.expr(f"(({d_den} - {d_num}) * base) div {d_den}")
                    + F.expr(
                        f"({d_num} * coalesce(inmass, CAST(0 AS BIGINT))) div {d_den}"
                    )
                ).alias("pr"),
            )
        )
    return pr.select(F.col("id").alias(id_col), "pr")
