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

__all__ = ["Automaton", "Edge", "TAKE", "IGNORE", "EPS", "ANY_TYPE"]

TAKE, IGNORE, EPS = 0, 1, 2
ANY_TYPE = "*"

_TRUE = lambda attrs, env: True  # noqa: E731


class Edge:
    """One transition.  ``pred`` is ``fn(attrs, env) -> truthy``; an
    edge applies to an event when its type guard admits the event's
    type (see :attr:`Automaton.edges_by_type`) and ``pred`` holds."""

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
    def spawn_types(self) -> Optional[frozenset]:
        """Event types a fresh run can consume via a TAKE/IGNORE edge in
        the start's ε-closure; for any other type the spawn contributes
        nothing and the engine skips it.  None = wildcard (always spawn)."""
        seen = {self.start}
        stack = [self.start]
        types: set = set()
        while stack:
            s = stack.pop()
            for e in self.edges[s]:
                if e.kind == EPS:
                    if e.dst not in seen:
                        seen.add(e.dst)
                        stack.append(e.dst)
                elif e.ev_type is None or e.ev_type == ANY_TYPE:
                    return None
                else:
                    types.add(e.ev_type)
        return frozenset(types)

    @cached_property
    def edges_by_type(self) -> list:
        """Per state: ``({event_type: edges}, wildcard_edges)``, the
        candidate edges for an event of that type in declaration order
        — EPS, wildcard (``ANY_TYPE``) and same-type edges;
        ``wildcard_edges`` serves types no edge names.  Every event has
        a type: ``KeyedPlan`` gives a row with a NULL type the reserved
        ``UNTYPED`` (``cep/keyed.py``), and to a bare engine ``None`` is
        one more type no edge names."""
        table = []
        for es in self.edges:
            wild = [e for e in es if e.ev_type is None or e.ev_type == ANY_TYPE]
            by_type = {}
            for t in {e.ev_type for e in es} - {None, ANY_TYPE}:
                by_type[t] = [e for e in es if e in wild or e.ev_type == t]
            table.append((by_type, wild))
        return table

    @cached_property
    def dig_table(self) -> list:
        """Per state: None or (accepting_state, eps_seen_mask), what
        ``MatchEngine._dig_accept``'s dynamic ε-closure search returns
        for a just-consumed configuration.  A TAKE resets eps_seen to
        {state}, so the outcome depends on the state alone."""
        edges = self.edges
        outputs = self.outputs

        def dig(start: int):
            visited = {start}

            def rec(state: int, mask: int):
                visited.add(state)
                for e in edges[state]:
                    dst = e.dst
                    if dst in visited or e.kind != EPS or mask & (1 << dst):
                        continue
                    nmask = mask | (1 << dst)
                    if outputs[dst] is not None:
                        return (dst, nmask)
                    found = rec(dst, nmask)
                    if found is not None:
                        return found
                return None

            return rec(start, 1 << start)

        return [dig(s) for s in range(len(edges))]

    def _step(self, state: int, mask: int, ev_type) -> list:
        """The consuming edges a run at ``state`` with ε-guard ``mask``
        tries on an event of ``ev_type``, in ``MatchEngine.feed``'s
        exploration order (ε-successors inserted right after their
        parent).  An ``ev_type`` no edge names selects the wildcard
        edges, as in the engine."""
        edges_by_type = self.edges_by_type
        work = [(state, mask)]
        out = []
        i = 0
        while i < len(work):
            s, m = work[i]
            i += 1
            by_type, wild = edges_by_type[s]
            for e in by_type.get(ev_type, wild):
                if e.kind != EPS:
                    out.append(e)
                elif not m & (1 << e.dst):
                    work.insert(i, (e.dst, m | (1 << e.dst)))
        return out

    def inert_types(self, types: Iterable[str]) -> frozenset:
        """The declared event types (``types``, the query's schema) that
        no run can react to: dropping every event of such a type from a
        key's stream leaves its matches, their order and the live run
        count at every other event unchanged.

        A type is inert when no fresh run spawns on it and, from every
        configuration a run can be stored in (the destination of a
        TAKE or IGNORE edge with its fresh ε-guard, or a ``dig_table``
        target with its dig mask), the step on it is either exactly
        one unconditioned IGNORE edge into a state whose step on every
        type equals the stored one's — the relaxed skip, which changes
        nothing a later event sees — or, for a dead configuration (no
        consuming edge on any type), nothing: that run dies on its next
        event either way.  With a wildcard spawn nothing is inert."""
        types = frozenset(types)
        cached = self._inert.get(types)
        if cached is not None:
            return cached
        inert = frozenset()
        if self.spawn_types is not None:
            named = {e.ev_type for es in self.edges for e in es} - {None, ANY_TYPE}
            probe = [object(), *named, *types]  # object(): an undeclared type

            sigs: dict = {}

            def signature(state: int, mask: int) -> list:
                sig = sigs.get((state, mask))
                if sig is None:
                    sig = sigs[state, mask] = [
                        [(e.kind, e.pred, e.dst, e.sink, e.update)
                         for e in self._step(state, mask, t)]
                        for t in probe
                    ]
                return sig

            stored = {
                (e.dst, 1 << e.dst) for es in self.edges for e in es if e.kind != EPS
            }
            stored |= {hit for hit in self.dig_table if hit is not None}

            def skips(state: int, mask: int, t) -> bool:
                step = self._step(state, mask, t)
                if not step:
                    return not any(signature(state, mask))  # dead run
                if len(step) != 1:
                    return False
                e = step[0]
                return (
                    e.kind == IGNORE and e.pred is _TRUE
                    and signature(e.dst, 1 << e.dst) == signature(state, mask)
                )

            inert = frozenset(
                t for t in types - self.spawn_types
                if all(skips(s, m, t) for s, m in stored)
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
