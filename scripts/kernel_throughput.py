#!/usr/bin/env python3
"""Single-core NFA throughput: our runtime vs the reference engine.

Same query (relaxed signup→purchase sequence), same synthetic stream.
The reference advances configurations by deepcopy per transition
(reference DST.py:141-166); our runtime uses shared-tail cons-list
captures + copy-on-write environments, measured ~5-6x faster per core
— before the Spark kernel multiplies it by the cluster width.

Methodology (pinned round 12 — the per-core multiple had read 4.8-8.0x
across rounds on an UNCHANGED kernel, pure box-state noise): each
engine is timed over MEDIAN-OF-5 interleaved passes (ours/reference
alternating, so a load burst hits both engines rather than one), the
spread (max/min) is reported beside the median, and a 1-minute load
average above ``--max-load`` (default 8.0 on this 32-cpu box) prints a
DO-NOT-TRUST warning: a probe taken under load is not comparable.
Match counts are asserted identical on every pass.

Usage: python3 scripts/kernel_throughput.py [N_EVENTS] [--max-load L]
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

Q_YAML = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: a, event: signup, cndt: {expr: "True"}}
  right: {type: spat, name: b, event: purchase, cndt: {expr: value > 50}}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""
TYPES = ["signup", "purchase", "error", "click", "view"]
PASSES = 5


def gen(n: int):
    rng = random.Random(42)
    return [
        (rng.choice(TYPES), {"id": i, "value": int(rng.uniform(0, 200))})
        for i in range(n)
    ]


def ours_once(events) -> tuple[float, int]:
    from reflinkcep_spark import Query
    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine

    q = Query.from_yaml(Q_YAML)
    eng = MatchEngine(compile_query(q), q.strategy)
    t0 = time.perf_counter()
    nm = sum(len(eng.feed(t, a)) for t, a in events)
    return time.perf_counter() - t0, nm


def make_reference(events):
    sys.path.append("/root/reference")
    try:
        import yaml
        from reflinkcep.ast import Query as RQ
        from reflinkcep.event import Event
        from reflinkcep.operator import CEPOperator
    except ImportError:
        return None

    evs = [Event(t, dict(a)) for t, a in events]

    def run() -> tuple[float, int]:
        # a fresh operator per pass: the reference executor keeps run
        # state, so reuse would measure a warm second feed, not a run
        op = CEPOperator.from_query(RQ.from_dict(yaml.safe_load(Q_YAML)))
        t0 = time.perf_counter()
        out = op << evs
        return time.perf_counter() - t0, len(out)

    return run


def main() -> int:
    args = [a for a in sys.argv[1:]]
    max_load = 8.0
    if "--max-load" in args:
        i = args.index("--max-load")
        try:
            max_load = float(args[i + 1])
        except (IndexError, ValueError):
            print(
                "usage: kernel_throughput.py [N_EVENTS] [--max-load L]",
                file=sys.stderr,
            )
            return 2
        del args[i : i + 2]
    try:
        n = int(args[0]) if args else 50_000
    except ValueError:
        print(
            "usage: kernel_throughput.py [N_EVENTS] [--max-load L]",
            file=sys.stderr,
        )
        return 2

    load1 = os.getloadavg()[0]
    if load1 > max_load:
        print(
            f"WARNING: 1-min load {load1:.1f} > {max_load:.1f} — box is busy; "
            "DO NOT TRUST this probe for cross-round comparison"
        )

    events = gen(n)
    ref_run = make_reference(events)

    # Interleaved passes: ours/reference alternate so a transient load
    # burst lands on both engines instead of biasing one side.
    ours_times: list[float] = []
    ref_times: list[float] = []
    nm = rnm = None
    for _ in range(PASSES):
        dt, m = ours_once(events)
        ours_times.append(dt)
        assert nm is None or m == nm, "ours: match count unstable across passes"
        nm = m
        if ref_run is not None:
            rdt, rm = ref_run()
            ref_times.append(rdt)
            assert rnm is None or rm == rnm, "reference: match count unstable"
            rnm = rm

    dt = statistics.median(ours_times)
    print(
        f"ours:      {n / dt / 1e3:8.1f}k ev/s  median-of-{PASSES} "
        f"({nm} matches, {dt:.2f}s, spread {min(ours_times):.2f}-"
        f"{max(ours_times):.2f}s, n={n})"
    )
    if ref_run is None:
        print("reference: unavailable (no /root/reference checkout)")
        return 0
    assert rnm == nm, f"match count diverged: ours {nm} vs reference {rnm}"
    rdt = statistics.median(ref_times)
    print(
        f"reference: {n / rdt / 1e3:8.1f}k ev/s  median-of-{PASSES} "
        f"({rnm} matches, {rdt:.2f}s, spread {min(ref_times):.2f}-"
        f"{max(ref_times):.2f}s)"
    )
    print(f"speedup:   {rdt / dt:.1f}x per core (median/median; load1 {load1:.1f})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
