"""Compile pattern-sequence ASTs into the executable automaton.

Thompson-style construction with the exact semantics of the reference
engine (compile.py:52-585): per-node sub-automata, ε-links for
sequencing, ignore-edges for relaxed/nd-relaxed contiguity, ``until``
folded into every consuming predicate, group quantifiers by automaton
copying.  Structure and edge ordering are semantic here: the runtime
explores edges in declaration order, which fixes match emission order
and duplicate-match behavior.

Contiguity (reference ast.py:13-58):
    strict      no skips — the next event must extend the run
    relaxed     skip events that can NOT extend the run (¬cndt, or a
                different event type enumerated from the context schema)
    nd-relaxed  skip anything — emits all combinations

A run whose last consuming step was an ignore can never be accepted;
this is guaranteed jointly by the runtime, which checks acceptance only
after a TAKE, and by routing post-ignore loop states through dedicated
states with no proceed edges (reference compile.py:93-108).  No
accepting state gets an out-edge, so a run that accepts can never
consume again (asserted by ``Automaton.steps``).
"""

from __future__ import annotations

from typing import Callable, Mapping

from reflinkcep_spark.cep.automaton import ANY_TYPE, EPS, IGNORE, TAKE, Automaton, Edge
from reflinkcep_spark.cep.expr import compile_predicate, compile_update
from reflinkcep_spark.cep.query import Query, capture_names

__all__ = ["compile_query", "compile_pattern"]


class _Frag:
    """A compiled sub-pattern: its start state and the states it owns."""

    __slots__ = ("start", "states")

    def __init__(self, start: int, states: list[int]):
        self.start = start
        self.states = states


def _neg(pred: Callable) -> Callable:
    return lambda attrs, env: not pred(attrs, env)


def _none_of(preds: list) -> Callable:
    """True iff NO predicate matches — the relaxed-ignore guard for a
    boundary whose next consuming step has several candidate edges."""
    if len(preds) == 1:
        return _neg(preds[0])
    return lambda attrs, env: not any(p(attrs, env) for p in preds)


def _conj_not(pred: Callable, until: Callable) -> Callable:
    return lambda attrs, env: pred(attrs, env) and not until(attrs, env)


class _Builder:
    def __init__(self, schema: Mapping):
        self.aut = Automaton()
        self.schema = schema

    # -- leaf helpers -------------------------------------------------
    def _leaf_parts(self, node: Mapping):
        """Predicate, update fn and initial env of a leaf pattern.

        ``variables`` declares per-run accumulator registers with
        simultaneous-assignment updates (reference compile.py:22-27).
        """
        pred = compile_predicate(str(node["cndt"]["expr"]))
        variables = node.get("variables", {})
        update = compile_update({k: str(v["update"]) for k, v in variables.items()})
        eta0 = {k: v["initial"] for k, v in variables.items()}
        self.aut.init_env.update(eta0)
        return pred, update

    def _other_types(self, ev: str):
        return [t for t in self.schema.keys() if t != ev]

    def _closure_take_states(
        self, r0: int
    ) -> tuple[list[tuple[int, list]], list[int]]:
        """Per-state TAKE edges and final states ε-reachable from
        ``r0`` without consuming — i.e. every way the sub-automaton
        rooted at ``r0`` can consume its FIRST event (grouped by the
        state that owns the edges: each group is one Flink-style
        computation branch with its OWN ignore condition), and every
        way it can complete on zero events.  Collected in the runtime's
        worklist-insertion exploration order (runtime.py feed()'s
        insert-at-i expansion), so replayed edge priority — and thus
        match emission order — matches what a run ε-parked at ``r0``
        would have explored."""
        a = self.aut
        order = [r0]
        seen = {r0}
        take_states: list[tuple[int, list]] = []
        finals: list[int] = []
        i = 0
        while i < len(order):
            s = order[i]
            i += 1
            if a.outputs[s] is not None:
                finals.append(s)
            takes = [e for e in a.edges[s] if e.kind == TAKE]
            if takes:
                take_states.append((s, takes))
            for e in a.edges[s]:
                if e.kind == EPS and e.dst not in seen:
                    seen.add(e.dst)
                    order.insert(i, e.dst)
        return take_states, finals

    def _wrap_until(self, states: list[int], until_pred: Callable) -> None:
        """Conjoin ¬until onto every consuming edge of a fragment
        (reference DST.py:110-114; applied compile.py:354-359, 574-578)."""
        for s in states:
            for e in self.aut.edges[s]:
                if e.kind != EPS:
                    e.pred = _conj_not(e.pred, until_pred)

    # -- node compilers ----------------------------------------------
    def build(self, node: Mapping) -> _Frag:
        t = node["type"]
        if t == "spat":
            return self._build_spat(node)
        if t == "lpat":
            return self._build_lpat(node)
        if t == "lpat-inf":
            return self._build_lpat_inf(node)
        if t == "combine":
            return self._build_combine(node)
        if t == "alt":
            return self._build_alt(node)
        if t == "gpat":
            return self.build(node["child"])
        if t == "gpat-times":
            return self._build_group_loop(node, bounded=True)
        if t == "gpat-inf":
            return self._build_group_loop(node, bounded=False)
        raise ValueError(f"unknown node type {t!r}")

    def _build_spat(self, node: Mapping) -> _Frag:
        """Single event pattern (reference compile.py:52-70)."""
        name, ev = node["name"], node["event"]
        pred, update = self._leaf_parts(node)
        a = self.aut
        q0 = a.new_state()
        qf = a.new_state({name: name})
        a.add(q0, Edge(TAKE, ev, pred, qf, sink=name, update=update))
        return _Frag(q0, [q0, qf])

    def _build_lpat(self, node: Mapping) -> _Frag:
        """Bounded loop {n,m} (reference compile.py:73-205).

        Chain q0..qm of take-states plus, for positions 1..m-1, a
        parallel "just ignored" state whose only exits are takes —
        keeping proceed edges reachable from take-states only.
        """
        name, ev = node["name"], node["event"]
        loop = node["loop"]
        theta, n, m = loop["contiguity"], int(loop["from"]), int(loop["to"])
        pred, update = self._leaf_parts(node)
        a = self.aut

        chain = [a.new_state() for _ in range(m + 1)]  # chain[i] ⇔ i events taken
        qf = a.new_state({name: name})
        skipped = [a.new_state() for _ in range(m - 1)]  # skipped[i] ⇔ chain[i+1] post-ignore

        for i in range(m):
            a.add(chain[i], Edge(TAKE, ev, pred, chain[i + 1], sink=name, update=update))
        for i in range(m - 1):
            a.add(skipped[i], Edge(TAKE, ev, pred, chain[i + 2], sink=name, update=update))

        for i in range(n, m + 1):
            a.add(chain[i], Edge(EPS, None, None, qf))

        if theta == "relaxed":
            notp = _neg(pred)
            for i in range(1, m):
                a.add(chain[i], Edge(IGNORE, ev, notp, skipped[i - 1]))
            for i in range(1, m):
                a.add(skipped[i - 1], Edge(IGNORE, ev, notp, skipped[i - 1]))
            for other in self._other_types(ev):
                for i in range(1, m):
                    a.add(chain[i], Edge(IGNORE, other, None, skipped[i - 1]))
                for i in range(1, m):
                    a.add(skipped[i - 1], Edge(IGNORE, other, None, skipped[i - 1]))
        elif theta == "nd-relaxed":
            for i in range(1, m):
                a.add(chain[i], Edge(IGNORE, ANY_TYPE, None, skipped[i - 1]))
            for i in range(1, m):
                a.add(skipped[i - 1], Edge(IGNORE, ANY_TYPE, None, skipped[i - 1]))

        return _Frag(chain[0], chain + [qf] + skipped)

    def _build_lpat_inf(self, node: Mapping) -> _Frag:
        """Unbounded loop {n,inf} with optional ``until`` and optional
        lower bound 0 (reference compile.py:208-372)."""
        name, ev = node["name"], node["event"]
        loop = node["loop"]
        theta, n = loop["contiguity"], int(loop["from"])
        optional = n == 0
        n = max(n, 1)
        pred, update = self._leaf_parts(node)
        a = self.aut

        chain = [a.new_state() for _ in range(n + 1)]
        post_skip = a.new_state()  # at the loop point, last event ignored
        qf = a.new_state({name: name})

        for i in range(n):
            a.add(chain[i], Edge(TAKE, ev, pred, chain[i + 1], sink=name, update=update))
        a.add(chain[n], Edge(TAKE, ev, pred, chain[n], sink=name, update=update))
        a.add(post_skip, Edge(TAKE, ev, pred, chain[n], sink=name, update=update))

        a.add(chain[n], Edge(EPS, None, None, qf))

        if theta == "relaxed":
            notp = _neg(pred)
            for i in range(1, n):
                a.add(chain[i], Edge(IGNORE, ev, notp, chain[i]))
            for other in self._other_types(ev):
                for i in range(1, n):
                    a.add(chain[i], Edge(IGNORE, other, None, chain[i]))
            a.add(chain[n], Edge(IGNORE, ev, notp, post_skip))
            a.add(post_skip, Edge(IGNORE, ev, notp, post_skip))
            for other in self._other_types(ev):
                a.add(chain[n], Edge(IGNORE, other, None, post_skip))
                a.add(post_skip, Edge(IGNORE, other, None, post_skip))
        elif theta == "nd-relaxed":
            for i in range(1, n):
                a.add(chain[i], Edge(IGNORE, ANY_TYPE, None, chain[i]))
            a.add(chain[n], Edge(IGNORE, ANY_TYPE, None, post_skip))
            a.add(post_skip, Edge(IGNORE, ANY_TYPE, None, post_skip))

        states = chain + [post_skip, qf]

        if "until" in node:
            self._wrap_until(states, compile_predicate(str(node["until"]["expr"])))

        if optional:
            a.add(chain[0], Edge(EPS, None, None, qf))

        return _Frag(chain[0], states)

    def _build_alt(self, node: Mapping) -> _Frag:
        """Ordered alternation (beyond-reference): a fresh
        start state with ε-edges to each branch, declaration order =
        edge priority, so runs explore the LEFT alternative first (the
        runtime's worklist insertion expands ε-siblings in declaration
        order).  Both branches' finals stay finals of the fragment —
        a following combine merges into and re-links all of them, the
        same way it treats a multi-final loop fragment.  No new edge
        kinds, no runtime changes: a match through one branch simply
        never touches the other branch's sinks, which every consumer
        (capture materialization, lens keys, row assembly, projection)
        already treats as an unmatched optional."""
        left = self.build(node["left"])
        right = self.build(node["right"])
        a = self.aut
        q0 = a.new_state()
        # REVERSE order: the runtime's worklist insertion expands
        # ε-siblings last-added-first (see _closure_take_states /
        # _build_combine's reversed ε-links), so adding right-then-left
        # makes runs explore the LEFT alternative first — emission
        # order follows the written order.
        a.add(q0, Edge(EPS, None, None, right.start))
        a.add(q0, Edge(EPS, None, None, left.start))
        return _Frag(q0, [q0] + left.states + right.states)

    def _build_combine(self, node: Mapping) -> _Frag:
        """Sequence left·right under a contiguity (reference
        compile.py:375-474).  Left-final outputs are merged into right
        finals, then replaced by ε-links into the right start.  For
        non-strict modes, a boundary "skipping" state replays the right
        start's take edges after ignoring interleaved events.

        NESTED right children under non-strict contiguity are a
        beyond-reference extension (the reference reads the right
        child's leaf fields directly, compile.py:415-419, and refuses
        anything else; Flink's genjava surface refuses them too, so
        the semantics spec is the public Flink contract: per-state
        ignore conditions — a computation branch parked at a state may
        skip exactly the events that state's OWN take condition
        rejects).  The ways the right child can consume its FIRST
        event are the TAKE edges in its start's ε-closure, grouped by
        owning state; each group becomes ONE replay-branch state
        carrying that state's takes plus leaf-style ignore self-loops
        guarded by ¬(that state's takes) — so e.g. ``(B* fby C)`` as a
        right child forks a B-waiting branch (skips non-B) AND a
        loop-bypassing C-waiting branch (skips non-C, including Bs),
        exactly the branches Flink's optional-prefix NFA runs, and
        exactly what the equivalent FLAT chain through the leaf path
        already does (pinned by the nested-vs-flat differential in
        tests/test_nested_combine.py).  Left finals ε-link only to the
        replay branches, never into the right's interior: interior
        states reachable by ε may own IGNORE edges of their own (the
        inner combine's boundary juncture behind an optional loop),
        and a run parked there would duplicate the C-waiting branch.
        Zero-consume completions survive via explicit ε-links to the
        closure's final states.  nd-relaxed branches ignore
        everything (followedByAny forks)."""
        contiguity = node["contiguity"]
        left = self.build(node["left"])
        right = self.build(node["right"])
        a = self.aut

        left_finals = a.finals(left.states)
        right_finals = a.finals(right.states)
        for ql in left_finals:
            for qr in right_finals:
                merged = dict(a.outputs[ql])
                merged.update(a.outputs[qr])
                a.outputs[qr] = merged

        r0 = right.start
        states = left.states + right.states
        nested = (
            contiguity != "strict"
            and node["right"].get("type") not in ("spat", "lpat", "lpat-inf")
        )

        if not nested:
            for ql in left_finals:
                a.add(ql, Edge(EPS, None, None, r0))
                a.outputs[ql] = None
            if contiguity != "strict":
                boundary = a.new_state()
                states.append(boundary)
                for e in list(a.edges[r0]):
                    if e.kind == TAKE:
                        a.add(boundary, Edge(TAKE, e.ev_type, e.pred, e.dst, e.sink, e.update))
                if contiguity == "relaxed":
                    rnode = node["right"]  # leaf on this path
                    rpred = compile_predicate(str(rnode["cndt"]["expr"]))
                    rev = rnode["event"]
                    notp = _neg(rpred)
                    a.add(r0, Edge(IGNORE, rev, notp, boundary))
                    a.add(boundary, Edge(IGNORE, rev, notp, boundary))
                    for other in self._other_types(rev):
                        a.add(r0, Edge(IGNORE, other, None, boundary))
                        a.add(boundary, Edge(IGNORE, other, None, boundary))
                else:  # nd-relaxed
                    a.add(r0, Edge(IGNORE, ANY_TYPE, None, boundary))
                    a.add(boundary, Edge(IGNORE, ANY_TYPE, None, boundary))
            return _Frag(left.start, states)

        # -- nested non-strict right: per-branch replay construction ---
        take_states, cfinals = self._closure_take_states(r0)
        branches: list[int] = []
        for _s, takes in take_states:
            br = a.new_state()
            branches.append(br)
            for e in takes:
                a.add(br, Edge(TAKE, e.ev_type, e.pred, e.dst, e.sink, e.update))
            if contiguity == "relaxed":
                by_type: dict = {}
                for e in takes:
                    by_type.setdefault(e.ev_type, []).append(e.pred)
                for t in self.schema.keys():
                    preds = by_type.get(t)
                    guard = _none_of(preds) if preds else None
                    a.add(br, Edge(IGNORE, t, guard, br))
            else:  # nd-relaxed
                a.add(br, Edge(IGNORE, ANY_TYPE, None, br))
        states += branches
        # ε-links in REVERSE branch order: the runtime's worklist
        # insertion processes ε-siblings last-added-first, so reversing
        # here makes runs explore branches in closure exploration order
        # — the same interleaving (and thus the same match emission
        # order) the plain ε walk of an equivalent FLAT chain produces
        # (pinned by the nested-vs-flat differential tests).
        for ql in left_finals:
            for f in reversed(cfinals):
                a.add(ql, Edge(EPS, None, None, f))
            for br in reversed(branches):
                a.add(ql, Edge(EPS, None, None, br))
            a.outputs[ql] = None

        return _Frag(left.start, states)

    def _build_group_loop(self, node: Mapping, bounded: bool) -> _Frag:
        """Quantified group: repeat a sub-sequence by chaining automaton
        copies (reference compile.py:482-585).  ``m`` copies ε-chained
        for {n,m}; ``n`` copies plus a back-edge on the last copy for
        {n,inf}.  Data variables initialize once per match, not per
        iteration — a deliberate reference behavior we preserve
        (compile.py:524-526 TODO)."""
        loop = node["loop"]
        n = int(loop["from"])
        a = self.aut

        if bounded:
            m = int(loop["to"])
            optional = False
        else:
            optional = n == 0
            n = max(n, 1)
            m = n

        q0 = a.new_state()
        copies = [self.build(node["child"]) for _ in range(m)]
        qf = a.new_state()
        copy_finals = [a.finals(c.states) for c in copies]

        # ε-chain the copies; {n,inf} loops the last copy onto itself.
        a.add(q0, Edge(EPS, None, None, copies[0].start))
        for i in range(m - 1):
            for q in copy_finals[i]:
                a.add(q, Edge(EPS, None, None, copies[i + 1].start))
        if not bounded:
            for q in copy_finals[m - 1]:
                a.add(q, Edge(EPS, None, None, copies[m - 1].start))

        # Completion ε-edges from every copy that satisfies the lower bound.
        for i in range(n - 1, m):
            for q in copy_finals[i]:
                a.add(q, Edge(EPS, None, None, qf))

        # The group's single output state inherits the child's output map.
        qf_out: dict = {}
        for q in copy_finals[0]:
            merged = dict(a.outputs[q])
            merged.update(qf_out)
            qf_out = merged
        for finals in copy_finals:
            for q in finals:
                a.outputs[q] = None
        a.outputs[qf] = qf_out

        states = [q0, qf]
        for c in copies:
            states.extend(c.states)

        if not bounded and "until" in node:
            self._wrap_until(states, compile_predicate(str(node["until"]["expr"])))

        if optional:
            a.add(q0, Edge(EPS, None, None, qf))

        return _Frag(q0, states)


def compile_pattern(patseq: Mapping, schema: Mapping) -> Automaton:
    builder = _Builder(schema)
    frag = builder.build(patseq)
    aut = builder.aut
    aut.start = frag.start
    aut.names = tuple(capture_names(patseq))
    return aut


def compile_query(query: Query) -> Automaton:
    """Compile a validated :class:`Query` into an :class:`Automaton`."""
    return compile_pattern(query.patseq, query.schema)
