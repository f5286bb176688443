"""Differential fuzz for SQL:2016 match selection (round 14).

An INDEPENDENT reference implementation of row-pattern matching for
the front end's flat strict subset — per-quantifier lexicographic
backtracking (greedy tries the longest extent first, reluctant the
shortest; earlier pattern variables dominate) with AFTER MATCH SKIP
start advancement — compared against the full Spark pipeline
(`match_recognize`: parser → AST → NoSkip kernel → per-start fold →
`_sql_select` → measures projection) on seeded random patterns and
streams.  The hand pins in test_match_recognize.py check chosen
examples; this checks the ALGEBRA: lexicographic-max over the feasible
assignment set must equal greedy backtracking by construction, so any
disagreement is an enumeration, fold, skip, or projection bug.

Kept deterministic (seeded) so CI failures reproduce.
"""

from __future__ import annotations

import random

import pytest

from reflinkcep_spark.cep.match_recognize import match_recognize


def _preferred_ctx(values, conds, s, quants, n, prefer, stamps=None, within=None):
    """Like :func:`_preferred` but with ASSIGNMENT-DEPENDENT conditions
    (cross-variable LAST navigation): row feasibility for variable i is
    evaluated against the segments already placed for variables < i.
    Conditions: None (undefined) / ("gt", t) / ("ascent",) ≡
    PREV(value) < value / ("gt_last", j) ≡ value > LAST(Vj.value).

    ``stamps``/``within`` model PATTERN (...) WITHIN: a row is only
    feasible while ``stamps[r] - stamps[s] <= within`` (contiguity is
    strict, so the match's first captured row is always ``s``) —
    the bound CONSTRains the backtracking search, it is not a
    post-filter on the unconstrained preferred assignment."""

    def cond_ok(i, r, placed):
        if within is not None and stamps[r] - stamps[s] > within:
            return False
        c = conds[i]
        if c is None:
            return True
        if c[0] == "gt":
            return values[r] > c[1]
        if c[0] == "ascent":
            return r > 0 and values[r - 1] < values[r]
        pj, Lj = placed[c[1]]
        return values[r] > values[pj + Lj - 1]

    def rec(i, pos, placed):
        if i == len(quants):
            return []
        lo, hi = quants[i]
        cap = 0
        while pos + cap < n and cond_ok(i, pos + cap, placed):
            cap += 1
        hi_eff = cap if hi is None else min(hi, cap)
        if hi_eff < lo:
            return None
        order = (
            range(hi_eff, lo - 1, -1)
            if prefer == "longest"
            else range(lo, hi_eff + 1)
        )
        for L in order:
            rest = rec(i + 1, pos + L, placed + [(pos, L)])
            if rest is not None:
                return [(pos, L)] + rest
        return None

    got = rec(0, s, [])
    if got is not None and sum(L for _p, L in got) == 0:
        return None
    return got


def _reference(values, conds, quants, prefer, skip, stamps=None, within=None):
    """All matches for one key per SQL:2016 selection: scan starts in
    row order, emit the preferred assignment per eligible start,
    advance per the skip mode (``skip`` = ("past_last"|"to_next", None)
    or ("to_first"|"to_last", var_index))."""
    n = len(values)
    mode, target = skip
    out = []
    min_start = 0
    for s in range(n):
        if s < min_start:
            continue
        segs = _preferred_ctx(
            values, conds, s, quants, n, prefer, stamps, within
        )
        if segs is None:
            continue
        pos = [
            (i, p, L) for i, (p, L) in enumerate(segs) if L > 0
        ]
        start = min(p for _i, p, _L in pos)
        end = max(p + L - 1 for _i, p, L in pos)
        out.append((start, end, segs))
        if mode == "past_last":
            min_start = end + 1
        elif mode == "to_next":
            min_start = start + 1
        else:
            pt, Lt = segs[target]
            min_start = pt if mode == "to_first" else pt + Lt - 1
    return out


def _case(seed):
    rng = random.Random(seed)
    k = rng.randint(2, 4)
    prefer = rng.choice(["longest", "shortest"])
    quant_pool = [(1, 1), (0, 1), (1, None), (0, None), (1, 3), (2, 2)]
    while True:
        quants = [rng.choice(quant_pool) for _ in range(k)]
        if sum(lo for lo, _hi in quants) >= 1:
            break
    conds = []
    for i in range(k):
        pool = [None, ("gt", 2), ("gt", 5), ("gt", 8), ("ascent",)]
        # cross-variable LAST navigation: only an EARLIER variable with
        # lo >= 1 (its register is guaranteed set when i evaluates)
        nav_targets = [
            j for j in range(i) if quants[j][0] >= 1
        ]
        if nav_targets:
            pool.append(("gt_last", rng.choice(nav_targets)))
        conds.append(rng.choice(pool))
    # AFTER MATCH SKIP: ordered modes only when a guaranteed-capturing
    # variable strictly after the start exists (SQL's infinite-loop
    # rule would raise otherwise — raising is hand-tested)
    skip_pool = [("past_last", None), ("to_next", None)]
    safe_targets = [
        j for j in range(1, k)
        if quants[j][0] >= 1
        and sum(quants[i][0] for i in range(j)) >= 1
    ]
    if safe_targets:
        t = rng.choice(safe_targets)
        skip_pool += [("to_first", t), ("to_last", t)]
    skip = rng.choice(skip_pool)
    n = rng.randint(8, 16)
    values = [float(rng.randint(0, 10)) for _ in range(n)]
    return prefer, skip, quants, conds, values


def _spec(prefer, skip, quants, conds, measures=None, clauses=""):
    """The MATCH_RECOGNIZE spec of a case.  ``measures`` replaces the
    default per-variable COUNT/FIRST/LAST list; ``clauses`` (e.g. ALL
    ROWS PER MATCH, SUBSET) goes in before AFTER MATCH SKIP."""
    names = [f"V{i}" for i in range(len(quants))]
    pats = []
    for name, (lo, hi) in zip(names, quants):
        if (lo, hi) == (1, 1):
            pats.append(name)
        elif (lo, hi) == (0, 1):
            pats.append(f"{name}?")
        elif hi is None:
            pats.append(f"{name}{'+' if lo == 1 else '{%d,}' % lo}")
        else:
            pats.append(f"{name}{{{lo},{hi}}}")
        if (lo, hi) != (1, 1) and prefer == "shortest":
            pats[-1] += "?"
    measures = measures or ", ".join(
        f"COUNT({v}.*) AS n_{v.lower()}, FIRST({v}.event_id) AS f_{v.lower()}, "
        f"LAST({v}.event_id) AS l_{v.lower()}"
        for v in names
    )
    define_parts = []
    for v, c in zip(names, conds):
        if c is None:
            continue
        if c[0] == "gt":
            define_parts.append(f"{v} AS {v}.value > {c[1]}")
        elif c[0] == "ascent":
            define_parts.append(f"{v} AS PREV(value) < {v}.value")
        else:
            define_parts.append(
                f"{v} AS {v}.value > LAST(V{c[1]}.value)"
            )
    mode, target = skip
    skip_sql = {
        "past_last": "AFTER MATCH SKIP PAST LAST ROW",
        "to_next": "AFTER MATCH SKIP TO NEXT ROW",
        "to_first": f"AFTER MATCH SKIP TO FIRST V{target}",
        "to_last": f"AFTER MATCH SKIP TO LAST V{target}",
    }[mode]
    spec = (
        f"PARTITION BY user_id ORDER BY event_id MEASURES {measures} "
        f"{clauses} {skip_sql} PATTERN ({' '.join(pats)})"
    )
    if define_parts:
        spec += f" DEFINE {', '.join(define_parts)}"
    return spec, names


SEEDS = list(range(60))

# --- WITHIN INTERVAL fuzz (round 14): the time bound CONSTRains the
# backtracking search — a start whose unconstrained preferred
# assignment overruns the bound can still match with a shorter one.

WITHIN_SEEDS = list(range(1000, 1030))


@pytest.mark.parametrize(
    "batch", [WITHIN_SEEDS[:15], WITHIN_SEEDS[15:]]
)
def test_within_interval_matches_constrained_reference(spark, batch):
    from pyspark.sql import functions as F

    for seed in batch:
        prefer, skip, quants, conds, values = _case(seed)
        rng = random.Random(seed ^ 0xBEEF)
        stamps = []
        t = 0
        for _ in values:
            stamps.append(t)
            t += rng.randint(0, 3)
        # adaptive bound: just under the widest unconstrained match
        # span, so the bound BITES (changes the match set) whenever the
        # seed allows; 1 otherwise (vacuous composition still checked)
        spans = [
            stamps[end] - stamps[start]
            for start, end, _segs in _reference(
                values, conds, quants, prefer, skip
            )
        ]
        w = max(spans) - 1 if spans and max(spans) >= 2 else 1
        spec, names = _spec(prefer, skip, quants, conds)
        # append the bound to the PATTERN clause (before DEFINE)
        if " DEFINE " in spec:
            head, tail = spec.split(" DEFINE ", 1)
            spec = f"{head} WITHIN INTERVAL '{w}' SECOND DEFINE {tail}"
        else:
            spec += f" WITHIN INTERVAL '{w}' SECOND"
        df = spark.createDataFrame(
            [(1, i, v, s) for i, (v, s) in enumerate(zip(values, stamps))],
            "user_id int, event_id int, value double, epoch_s long",
        ).select(
            "user_id",
            "event_id",
            "value",
            F.timestamp_seconds("epoch_s").alias("ts"),
        )
        got = sorted(
            tuple(r)
            for r in match_recognize(df, spec, time_col="ts").collect()
        )

        want = []
        for seq, (_start, _end, segs) in enumerate(
            _reference(values, conds, quants, prefer, skip, stamps, w)
        ):
            row = [1, seq]
            for pos, L in segs:
                row += [
                    L,
                    pos if L else None,
                    pos + L - 1 if L else None,
                ]
            want.append(tuple(row))
        assert got == sorted(want), (
            f"seed {seed}: spec={spec!r} values={values} stamps={stamps} "
            f"within={w} got={got} want={sorted(want)}"
        )


@pytest.mark.parametrize(
    "batch", [SEEDS[:15], SEEDS[15:30], SEEDS[30:45], SEEDS[45:]]
)
def test_sql_selection_matches_backtracking_reference(spark, batch):
    for seed in batch:
        prefer, skip, quants, conds, values = _case(seed)
        # reluctant-on-singleton is meaningless; _spec only marks
        # flexible quantifiers reluctant, so a shortest case with all
        # fixed extents degenerates to greedy — fine, same semantics.
        spec, names = _spec(prefer, skip, quants, conds)
        df = spark.createDataFrame(
            [(1, i, v) for i, v in enumerate(values)],
            "user_id int, event_id int, value double",
        )
        got = sorted(
            tuple(r)
            for r in match_recognize(df, spec).collect()
        )

        want = []
        for seq, (_start, _end, segs) in enumerate(
            _reference(values, conds, quants, prefer, skip)
        ):
            row = [1, seq]
            for pos, L in segs:
                row += [
                    L,
                    pos if L else None,
                    pos + L - 1 if L else None,
                ]
            want.append(tuple(row))
        assert got == sorted(want), (
            f"seed {seed}: spec={spec!r} values={values} "
            f"got={got} want={sorted(want)}"
        )


# --- ALL ROWS PER MATCH over a SUBSET, in match order -------------------
#
# Per output row: the classifier, RUNNING COUNT(U.*) and FINAL
# LAST(U.event_id) for U = (first variable, last variable).  In about a
# third of the cases the key's last row has a NULL event_id: the kernel
# feeds it last (NULLS LAST), so it stays the last row of any match that
# takes it, and every measure must read it there.

ALL_ROWS_SEEDS = list(range(3000, 3015))


def test_all_rows_subset_measures_follow_match_order(spark):
    for seed in ALL_ROWS_SEEDS:
        prefer, skip, quants, conds, values = _case(seed)
        null_last = random.Random(seed ^ 0x5EED).random() < 1 / 3
        k = len(quants)
        spec, _names = _spec(
            prefer, skip, quants, conds,
            measures="RUNNING COUNT(U.*) AS nu, "
            "FINAL LAST(U.event_id) AS lu, CLASSIFIER() AS cls",
            clauses=f"ALL ROWS PER MATCH SUBSET U = (V0, V{k - 1})",
        )
        n = len(values)
        event_ids = [
            None if null_last and i == n - 1 else i for i in range(n)
        ]
        df = spark.createDataFrame(
            [(1, e, v) for e, v in zip(event_ids, values)],
            "user_id int, event_id int, value double",
        )
        got = sorted(
            (tuple(r) for r in match_recognize(df, spec).collect()),
            key=repr,
        )

        want = []
        for seq, (_start, _end, segs) in enumerate(
            _reference(values, conds, quants, prefer, skip)
        ):
            rows = [
                (r, i) for i, (p, L) in enumerate(segs) for r in range(p, p + L)
            ]
            in_u = [r for r, i in rows if i in (0, k - 1)]
            last_u = event_ids[in_u[-1]] if in_u else None
            nu = 0
            for r, i in rows:
                nu += i in (0, k - 1)
                want.append(
                    (1, seq, f"V{i}", event_ids[r], values[r], nu, last_u, f"V{i}")
                )
        assert got == sorted(want, key=repr), (
            f"seed {seed}: spec={spec!r} values={values} "
            f"event_ids={event_ids} got={got} want={sorted(want, key=repr)}"
        )


# --- alternation fuzz (round 14): PATTERN (seq | seq [| seq]) -----------
#
# Branch preference dominates: per SQL:2016 the FIRST-written branch
# with any feasible assignment wins, and within it the quantifiers'
# lexicographic preference applies — which is exactly what the
# kernel's lens-tuple MAX computes (a left-branch candidate's lens
# dominates every right-branch candidate's).  Greedy only (the
# translator rejects reluctant+alternation); ordered skip modes are
# excluded because a skip target may sit in an untaken branch.

ALT_SEEDS = list(range(2000, 2030))


def _alt_case(seed):
    rng = random.Random(seed)
    n_branches = rng.randint(2, 3)
    quant_pool = [(1, 1), (0, 1), (1, None), (1, 3), (2, 2)]
    branches = []
    for _ in range(n_branches):
        k = rng.randint(1, 2)
        while True:
            quants = [rng.choice(quant_pool) for _ in range(k)]
            if sum(lo for lo, _hi in quants) >= 1:
                break
        conds = []
        for i in range(k):
            pool = [None, ("gt", 2), ("gt", 5), ("gt", 8), ("ascent",)]
            conds.append(rng.choice(pool))
        branches.append((quants, conds))
    skip = rng.choice([("past_last", None), ("to_next", None)])
    n = rng.randint(8, 14)
    values = [float(rng.randint(0, 10)) for _ in range(n)]
    return skip, branches, values


def _alt_reference(values, branches, skip):
    """First-written branch with a feasible assignment wins per start;
    within the branch, greedy backtracking."""
    n = len(values)
    mode, _target = skip
    out = []
    min_start = 0
    for s in range(n):
        if s < min_start:
            continue
        hit = None
        for bi, (quants, conds) in enumerate(branches):
            segs = _preferred_ctx(values, conds, s, quants, n, "longest")
            if segs is not None:
                hit = (bi, segs)
                break
        if hit is None:
            continue
        bi, segs = hit
        pos = [(p, L) for p, L in segs if L > 0]
        start = min(p for p, _L in pos)
        end = max(p + L - 1 for p, L in pos)
        out.append((start, end, bi, segs))
        min_start = end + 1 if mode == "past_last" else start + 1
    return out


@pytest.mark.parametrize("batch", [ALT_SEEDS[:15], ALT_SEEDS[15:]])
def test_alternation_matches_branch_preference_reference(spark, batch):
    for seed in batch:
        skip, branches, values = _alt_case(seed)
        # build the spec: unique var names across branches
        vnames = []
        parts = []
        defines = []
        vi = 0
        for quants, conds in branches:
            elems = []
            bnames = []
            for (lo, hi), c in zip(quants, conds):
                v = f"V{vi}"
                vi += 1
                bnames.append(v)
                if (lo, hi) == (1, 1):
                    elems.append(v)
                elif (lo, hi) == (0, 1):
                    elems.append(f"{v}?")
                elif hi is None:
                    elems.append(f"{v}+")
                else:
                    elems.append(f"{v}{{{lo},{hi}}}")
                if c is not None:
                    if c[0] == "gt":
                        defines.append(f"{v} AS {v}.value > {c[1]}")
                    else:
                        defines.append(f"{v} AS PREV(value) < {v}.value")
            vnames.append(bnames)
            parts.append(" ".join(elems))
        flat_names = [v for b in vnames for v in b]
        measures = ", ".join(
            f"COUNT({v}.*) AS n_{v.lower()}, FIRST({v}.event_id) AS f_{v.lower()}, "
            f"LAST({v}.event_id) AS l_{v.lower()}"
            for v in flat_names
        )
        skip_sql = (
            "AFTER MATCH SKIP PAST LAST ROW"
            if skip[0] == "past_last"
            else "AFTER MATCH SKIP TO NEXT ROW"
        )
        spec = (
            f"PARTITION BY user_id ORDER BY event_id MEASURES {measures} "
            f"{skip_sql} PATTERN ({' | '.join(parts)})"
        )
        if defines:
            spec += f" DEFINE {', '.join(defines)}"
        df = spark.createDataFrame(
            [(1, i, v) for i, v in enumerate(values)],
            "user_id int, event_id int, value double",
        )
        got = sorted(
            tuple(r) for r in match_recognize(df, spec).collect()
        )

        want = []
        for seq_i, (_s, _e, bi, segs) in enumerate(
            _alt_reference(values, branches, skip)
        ):
            row = [1, seq_i]
            for b_idx, (quants, _conds) in enumerate(branches):
                for q_i in range(len(quants)):
                    if b_idx == bi:
                        p, L = segs[q_i]
                        row += [
                            L,
                            p if L else None,
                            p + L - 1 if L else None,
                        ]
                    else:
                        row += [0, None, None]
            want.append(tuple(row))
        assert got == sorted(want), (
            f"seed {seed}: spec={spec!r} values={values} "
            f"got={got} want={sorted(want)}"
        )
