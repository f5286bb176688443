"""Run-set NFA interpreter: the CEP match kernel.

Event-at-a-time semantics equivalent to the reference executor
(executor.py:22-94 + DST.py:61-227), re-engineered for throughput:

* a fresh run starts at every event offset (every offset is a potential
  match start),
* ε-moves are resolved once per automaton, not per event: the step
  table (``Automaton.steps``) lists, per state, the consuming edges a
  stored run tries on each event type in ε-exploration order, the
  order that fixes match emission order,
* a TAKE that lands on an accepting state, or on a state whose
  ε-closure reaches one (``Automaton.dig_table``), emits the match
  immediately,
* only live runs are stored: a run at a state with no consuming edge
  in reach (every accepting state is one) is emitted if it accepts
  and then dropped,
* captures are shared-tail cons lists and data environments are
  copy-on-write dicts — no deep copies anywhere (the reference's main
  hot spot, DST.py:141-166).

After-match skip strategies (reference executor.py:70-91, plus Flink's
two parameterized strategies the reference lacks):
    NoSkip             emit every accepted run
    SkipToNext         per completing event, kill all runs that share a
                       start offset with an emitted match
    SkipPastLastEvent  emit the first accepted run, then kill every run
    SkipToFirst:<p>    on each emitted match, kill every run that
                       started before the FIRST event captured under
                       <p> in that match (Flink SKIP_TO_FIRST)
    SkipToLast:<p>     same, but before the LAST event captured under
                       <p> (Flink SKIP_TO_LAST)
Pruning applies immediately inside the emit loop (runs are visited
oldest-first), which reproduces the public Flink documentation table —
e.g. pattern ``b+ c`` on ``b1 b2 b3 c`` with SkipToLast:b emits
b1b2b3c and b3c but not b2b3c.  A match in which <p> captured nothing
(optional sub-pattern) prunes nothing — the lenient variant of Flink's
throw-on-miss default.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Optional

from reflinkcep_spark.cep.automaton import DEAD, TAKE, Automaton
from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.query import Query

__all__ = ["MatchEngine", "Match", "run_pattern"]


class _Cfg:
    """A live run configuration."""

    __slots__ = ("state", "env", "caps", "first")

    def __init__(self, state, env, caps, first=None):
        self.state = state
        self.env = env  # data-variable environment (copy-on-write)
        self.caps = caps  # {capture_name: cons-list (prev, event_pos)}
        self.first = first  # stamp of this run's first TAKEN event


class Match:
    """An accepted match: start offset, end offset, captured positions."""

    __slots__ = ("start", "end", "captures")

    def __init__(self, start: int, end: int, captures: dict):
        self.start = start  # 0-based offset of the first possible event
        self.end = end  # 0-based offset of the completing event
        self.captures = captures  # {name: [event offsets]} in pattern order

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Match({self.start}..{self.end}, {self.captures})"


def _cons_to_list(cell) -> list:
    out = []
    while cell is not None:
        cell, pos = cell
        out.append(pos)
    out.reverse()
    return out


class MatchEngine:
    """Incremental matcher over one totally-ordered (sub)stream.

    Feed events in order; collect emitted matches per event.  The live
    run-set is the only state, so the same engine drives the batch
    kernel and the streaming kernel (where the run-set is persisted
    between micro-batches).
    """

    def __init__(
        self,
        automaton: Automaton,
        strategy: str = "NoSkip",
        within: Optional[float] = None,
    ):
        """``within`` bounds the span between a run's first and last
        TAKEN event, measured in the units of the ``stamp`` passed to
        :meth:`feed` (row offsets by default; an event-time column in
        the Spark kernel).  Runs whose window has closed are pruned
        BEFORE each event — the same move as Flink CEP's ``within()``:
        it both restricts matches and, critically, bounds live state
        on streams where relaxed patterns would otherwise keep every
        run alive forever."""
        self.aut = automaton
        self.strategy = strategy
        # Single source of truth for strategy spellings: an unknown
        # string raises QueryError here instead of silently degrading
        # to NoSkip when the engine is constructed directly (bypassing
        # Query validation).
        from reflinkcep_spark.cep.query import parse_strategy

        base, target = parse_strategy(strategy)
        if target is not None:
            # "SkipToFirst:name" / "SkipToLast:name" → positional pruning
            self.skip_pick = 0 if base == "SkipToFirst" else -1
            self.skip_target = target
        else:
            self.skip_pick = None
            self.skip_target = None
        self.within = within
        # per-automaton tables (cep/automaton.py), built once and shared
        self._steps = automaton.steps
        self._dig_table = automaton.dig_table
        self._spawn = _Cfg(automaton.start, automaton.init_env, {})
        self.reset()

    def reset(self) -> None:
        self.runs: list = []  # [(start_offset, _Cfg)], live runs only
        self.pos = 0  # 0-based offset of the next event

    # -- core ---------------------------------------------------------
    def feed(self, ev_type: str, attrs: Mapping, stamp=None) -> list[Match]:
        steps = self._steps
        dig_table = self._dig_table
        pos = self.pos
        self.pos = pos + 1
        if stamp is None:
            stamp = pos

        runs = self.runs
        within = self.within
        if within is not None and runs:
            # A run whose first take is further back than `within` can
            # never complete in-window again (stamps are monotone), so
            # it is dead state: drop it before it does any work.
            runs = [
                (k, c)
                for k, c in runs
                if c.first is None or stamp - c.first <= within
            ]
        spawn = self._spawn
        by_type, wild = steps[spawn.state]
        if by_type.get(ev_type, wild):
            runs.append((pos, spawn))
        self.runs = next_runs = []

        accepted: list = []
        for k, cfg in runs:
            env = cfg.env
            by_type, wild = steps[cfg.state]
            for e in by_type.get(ev_type, wild):
                if not e.pred(attrs, env):
                    continue
                dst = e.dst
                if e.kind == TAKE:
                    new_env = e.update(attrs, env) if e.update else env
                    caps = dict(cfg.caps)
                    caps[e.sink] = (caps.get(e.sink), pos)
                    hit = dig_table[dst]
                    if hit is not None:
                        accepted.append((k, hit, caps))
                    if steps[dst] is not DEAD:
                        first = cfg.first if cfg.first is not None else stamp
                        next_runs.append((k, _Cfg(dst, new_env, caps, first)))
                elif steps[dst] is not DEAD:  # IGNORE
                    next_runs.append((k, _Cfg(dst, env, cfg.caps, cfg.first)))

        return self._emit(pos, accepted)

    def _emit(self, pos: int, accepted: list) -> list[Match]:
        # ``accepted`` is collected during feed() in next_runs order
        # (runs visited oldest-first), so emission order — which the
        # skip strategies' pruning semantics depend on — is identical
        # to scanning the whole run list; collecting makes the no-match
        # event (the overwhelmingly common case) O(1) here instead of
        # O(live runs).
        if not accepted:
            return []
        out: list[Match] = []
        killed: set = set()
        threshold: Optional[int] = None  # SkipToFirst/SkipToLast ratchet
        strategy = self.strategy
        pick = self.skip_pick
        for k, state, caps in accepted:
            if k in killed or (threshold is not None and k < threshold):
                continue
            m = self._materialize(k, pos, state, caps)
            out.append(m)
            if strategy == "SkipToNext":
                killed.add(k)
            elif strategy == "SkipPastLastEvent":
                self.runs = []
                return out
            elif pick is not None:
                caps = m.captures.get(self.skip_target)
                if caps:  # unmatched optional target prunes nothing
                    t = caps[pick]
                    if threshold is None or t > threshold:
                        threshold = t
        if killed or threshold is not None:
            self.runs = [
                (k, c)
                for k, c in self.runs
                if k not in killed
                and (threshold is None or k >= threshold)
            ]
        return out

    def _materialize(self, k: int, pos: int, state: int, caps: dict) -> Match:
        captures = {}
        for key, var in self.aut.outputs[state].items():
            cell = caps.get(var)
            if cell is not None:
                captures[key] = _cons_to_list(cell)
        return Match(k, pos, captures)


def run_pattern(
    query: Query,
    events: Iterable[tuple[str, Mapping]],
    automaton: Automaton | None = None,
    within: Optional[float] = None,
) -> list[dict]:
    """Run a query over an in-memory stream of ``(type, attrs)`` pairs.

    Returns one dict per match: ``{name: [attrs, ...]}`` with capture
    names in pattern order — the reference's ``Match`` output model
    (executor.py:7, omitted-empty-name rule DST.py:302-311).
    ``within`` bounds first-to-last match span in ROW OFFSETS here
    (no event time exists on in-memory streams).
    """
    aut = automaton if automaton is not None else compile_query(query)
    engine = MatchEngine(aut, query.strategy, within)
    events = list(events)
    results: list[dict] = []
    for ev_type, attrs in events:
        for m in engine.feed(ev_type, attrs):
            results.append(
                {name: [events[i][1] for i in idxs] for name, idxs in m.captures.items()}
            )
    return results
