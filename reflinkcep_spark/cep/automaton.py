"""Automaton IR: an NFA with data registers and capture streams.

The compiled form of a pattern query — equivalent in expressive power to
the reference's data-stream transducer ``(Σ, Π, X, Y, Q, q0, η0, Δ)``
(reference DST.py:239-317) but engineered for a vectorized-batch host:

* states are dense integers (no name-counter objects),
* per-state edge lists are built in declaration order (edge priority),
* predicates/updates are pre-compiled Python closures,
* captures at runtime are shared-tail cons lists, never deep copies.

Edge kinds:
    TAKE    consume the event and append it to a capture stream
    IGNORE  consume the event without capturing (contiguity skips)
    EPS     ε-move: no event consumed (proceed/structure edges)

Acceptance = reaching a state with a non-None output map via a run whose
last consuming edge was a TAKE (reference DST.py:294-300).
"""

from __future__ import annotations

from functools import cached_property
from typing import Callable, Iterable, Optional

__all__ = ["Automaton", "Edge", "TAKE", "IGNORE", "EPS", "ANY_TYPE", "DEAD"]

TAKE, IGNORE, EPS = 0, 1, 2
ANY_TYPE = "*"

_TRUE = lambda attrs, env: True  # noqa: E731
_WILD = {None, ANY_TYPE}  # edge types that admit every event type

# The step-table entry of a state no run can consume from again.
DEAD: tuple = ({}, ())


def _same_step(a, b) -> bool:
    """Whether two step-table entries consume every event type alike:
    the same edges, compared by content, in the same order."""
    (by_a, wild_a), (by_b, wild_b) = a, b

    def content(es):
        return [(e.kind, e.pred, e.dst, e.sink, e.update) for e in es]

    # None: a type no edge names, served by the wildcard edges
    return all(
        content(by_a.get(t, wild_a)) == content(by_b.get(t, wild_b))
        for t in {None, *by_a, *by_b}
    )


class Edge:
    """One transition.  ``pred`` is ``fn(attrs, env) -> truthy``; an
    edge applies to an event when its type guard admits the event's
    type (see :attr:`Automaton.steps`) and ``pred`` holds."""

    __slots__ = ("kind", "ev_type", "pred", "dst", "sink", "update")

    def __init__(
        self,
        kind: int,
        ev_type: Optional[str],
        pred: Optional[Callable],
        dst: int,
        sink: Optional[str] = None,
        update: Optional[Callable] = None,
    ):
        self.kind = kind
        self.ev_type = ev_type  # None for EPS, ANY_TYPE matches everything
        self.pred = pred or _TRUE
        self.dst = dst
        self.sink = sink  # capture name (TAKE only)
        self.update = update  # fn(attrs, env) -> new env (TAKE only)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        k = ("take", "ignore", "eps")[self.kind]
        return f"Edge({k},{self.ev_type}->{self.dst})"


class Automaton:
    """Mutable during construction; treated as frozen by the runtime."""

    def __init__(self):
        self.edges: list[list[Edge]] = []  # per-state, in priority order
        self.outputs: list[Optional[dict]] = []  # per-state {out_key: capture_var}
        self.start: int = 0
        self.init_env: dict = {}
        self.names: tuple[str, ...] = ()  # capture names, pattern order
        self._inert: dict = {}  # inert_types() per declared type set

    # -- construction helpers ----------------------------------------
    def new_state(self, output: Optional[dict] = None) -> int:
        self.edges.append([])
        self.outputs.append(output)
        return len(self.edges) - 1

    def add(self, src: int, edge: Edge) -> Edge:
        self.edges[src].append(edge)
        return edge

    def finals(self, states) -> list[int]:
        return [s for s in states if self.outputs[s] is not None]

    # -- runtime accessors --------------------------------------------
    def n_states(self) -> int:
        return len(self.edges)

    # Engine tables: functions of the finished automaton, built on first
    # use and cached, so the MatchEngine of every key only reads them.

    @cached_property
    def steps(self) -> list:
        """The step table, per state ``s``: the consuming edges a run
        stored at ``s`` tries on an event, as ``({event_type: edges},
        wildcard_edges)``; ``wildcard_edges`` serves every type no edge
        names.  Every event has a type: ``KeyedPlan`` gives a row with a
        NULL type the reserved ``UNTYPED`` (``cep/keyed.py``), and to a
        bare engine ``None`` is one more type no edge names.

        A run is stored only as the destination of a TAKE or IGNORE
        edge, and a consuming step resets its ε-guard, so ``s`` alone
        fixes the entry (:meth:`_step`); the start's entry is the spawn
        test.  A state with no consuming edge in reach holds
        :data:`DEAD`: a run there can never consume again, so the engine
        emits it if it accepts and never stores it.  The compiler gives
        no accepting state an out-edge, so every accepting state is
        dead."""
        assert not any(
            self.edges[s] for s, out in enumerate(self.outputs) if out is not None
        ), "an accepting state has an out-edge"
        return [self._step(s) for s in range(len(self.edges))]

    @cached_property
    def dig_table(self) -> list:
        """Per state: the accepting state a run that TAKEs into it
        completes at — the state itself when it accepts, else the first
        accepting state its ε-closure reaches depth-first in edge order
        (reference find_accepted, DST.py:272-292) — or None."""
        edges = self.edges
        outputs = self.outputs

        def dig(state: int, seen: set):
            if outputs[state] is not None:
                return state
            seen.add(state)
            for e in edges[state]:
                if e.kind == EPS and e.dst not in seen:
                    found = dig(e.dst, seen)
                    if found is not None:
                        return found
            return None

        return [dig(s, set()) for s in range(len(edges))]

    def _step(self, state: int):
        """The table entry of ``state``: walk its ε-closure in the
        engine's exploration order (depth-first, each ε-successor
        explored right after its parent's consuming edges, no ε-path
        entering a state twice) and bucket the consuming edges it meets
        by the event types they admit.  Every ε-edge admits every type,
        so one walk serves all types; an edge typed ``None`` or
        ``ANY_TYPE`` admits every type."""
        work = [(state, 1 << state)]
        order = []
        i = 0
        while i < len(work):
            s, mask = work[i]
            i += 1
            for e in self.edges[s]:
                if e.kind != EPS:
                    order.append(e)
                elif not mask & (1 << e.dst):
                    work.insert(i, (e.dst, mask | (1 << e.dst)))
        if not order:
            return DEAD
        wild = [e for e in order if e.ev_type in _WILD]
        named = {e.ev_type for e in order} - _WILD
        by_type = {t: [e for e in order if e.ev_type == t or e.ev_type in _WILD] for t in named}
        return by_type, wild

    def inert_types(self, types: Iterable[str]) -> frozenset:
        """The declared event types (``types``, the query's schema) that
        no run can react to: dropping every event of such a type from a
        key's stream leaves its matches, their order and the live run
        count at every other event unchanged.

        A type is inert when no fresh run spawns on it and, at every
        state a run can be stored in (the destination of a TAKE or
        IGNORE edge), the step on it is exactly one unconditioned
        IGNORE edge into a state whose entry consumes every type alike
        — the relaxed skip, which changes nothing a later event sees.
        Dead states are never stored.  With a wildcard spawn nothing is
        inert."""
        types = frozenset(types)
        cached = self._inert.get(types)
        if cached is not None:
            return cached
        steps = self.steps
        spawn, spawn_wild = steps[self.start]
        inert = frozenset()
        if not spawn_wild:
            stored = {e.dst for es in self.edges for e in es if e.kind != EPS}

            def skips(state: int, t) -> bool:
                entry = steps[state]
                if entry is DEAD:
                    return True
                by_type, wild = entry
                step = by_type.get(t, wild)
                if len(step) != 1:
                    return False
                e = step[0]
                return (
                    e.kind == IGNORE and e.pred is _TRUE
                    and _same_step(steps[e.dst], entry)
                )

            inert = frozenset(
                t for t in types - spawn.keys()
                if all(skips(s, t) for s in stored)
            )
        self._inert[types] = inert
        return inert

    def dump(self) -> str:  # pragma: no cover - debug aid
        lines = [f"start={self.start} env={self.init_env} names={self.names}"]
        for s, es in enumerate(self.edges):
            out = self.outputs[s]
            mark = f" out={out}" if out is not None else ""
            lines.append(f"  q{s}{mark}:")
            for e in es:
                lines.append(f"    {e}")
        return "\n".join(lines)
