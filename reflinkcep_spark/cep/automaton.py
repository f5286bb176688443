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
from typing import Callable, Mapping, Optional

__all__ = ["Automaton", "Edge", "TAKE", "IGNORE", "EPS", "ANY_TYPE"]

TAKE, IGNORE, EPS = 0, 1, 2
ANY_TYPE = "*"

_TRUE = lambda attrs, env: True  # noqa: E731


class Edge:
    """One transition.  ``pred`` is ``fn(attrs, env) -> truthy``."""

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

    def matches(self, ev_type: Optional[str], attrs: Mapping, env: Mapping) -> bool:
        """Type-guard + predicate (reference Predicte.evaluate, DST.py:116-126)."""
        if (
            ev_type is not None
            and self.ev_type is not None
            and self.ev_type != ANY_TYPE
            and self.ev_type != ev_type
        ):
            return False
        return bool(self.pred(attrs, env))

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

    def dump(self) -> str:  # pragma: no cover - debug aid
        lines = [f"start={self.start} env={self.init_env} names={self.names}"]
        for s, es in enumerate(self.edges):
            out = self.outputs[s]
            mark = f" out={out}" if out is not None else ""
            lines.append(f"  q{s}{mark}:")
            for e in es:
                lines.append(f"    {e}")
        return "\n".join(lines)
