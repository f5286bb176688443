#!/usr/bin/env python3
"""Run the FULL differential grammar corpus (tests/test_differential.py)
through the Spark batch kernel and compare with the reference engine.

The fast pytest corpus checks the pure-Python runtime; this script
pushes every enumerated query through the real mapInPandas kernel
(shuffle → (key, order) sort → NFA → Arrow round trip) on a 2-key frame.
Matches are compared per key as ordered capture-id sequences.

Also stride-samples the reference-scale four-division enumeration
(tests/corpus.py, ~13.5k query×strategy combos) so the systematic
corpus exercises the kernel too, not just the pure runtime.

Usage: python3 scripts/kernel_corpus_check.py [--limit N] [--stride N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# Repo root must precede the reference checkout: both have a tests/ dir.
sys.path.insert(0, "/root/reference")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument(
        "--stride",
        type=int,
        default=149,
        help="take every Nth case of the four-division systematic corpus "
        "(tests/corpus.py); 0 disables, 1 runs all ~13.5k",
    )
    ap.add_argument(
        "--threads",
        type=int,
        default=8,
        help="concurrent Spark job submissions (local[*] schedules them "
        "across cores; the driver-side compile/reference-oracle work is "
        "GIL-bound, so returns diminish past ~8)",
    )
    ap.add_argument(
        "--no-fastpath",
        action="store_true",
        help="force every case through the mapInPandas NFA kernel "
        "(by default the planner may dispatch to Catalyst fast paths, "
        "which is what production does but leaves the kernel itself "
        "unexercised for those combos)",
    )
    ap.add_argument(
        "--random-streams",
        type=int,
        default=0,
        help="additionally run N seeded random streams through a "
        "representative pattern set (fuzzes the stream axis through the "
        "real kernel + fast paths, not just the fixed 9-event input)",
    )
    args = ap.parse_args()

    from tests.corpus import DIVISIONS, STRATEGIES, iter_division
    from tests.test_differential import CASES, STREAM, _ref_matches

    from reflinkcep_spark import Query
    from reflinkcep_spark.operators import match_pattern
    from reflinkcep_spark.session import get_spark

    spark = get_spark(app_name="kernel-corpus-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = [
        (k, i + 1, t, a["name"], a["price"])
        for k in range(2)
        for i, (t, a) in enumerate(STREAM)
    ]
    df = spark.createDataFrame(
        rows, "user_id int, id long, etype string, name long, price long"
    ).cache()
    df.count()

    def canon(matches):
        """Order-insensitive: emission order is pinned by the golden and
        kernel unit tests; fast-path plans may legally reorder."""
        return sorted(
            tuple(sorted((n, tuple(ids)) for n, ids in m.items()))
            for m in matches
        )

    cases = [(cid, pat, strat, None) for cid, pat, strat in CASES]
    if args.stride:
        div_combos = [
            (f"{div}:{cid}/{strat}", pat, strat, None)
            for div in DIVISIONS
            for cid, pat in iter_division(div)
            for strat in STRATEGIES
        ]
        cases += div_combos[:: args.stride]
    if args.random_streams:
        import random

        from tests.test_differential_random import PATTERNS, _mk_stream

        rng = random.Random(20260813)
        for s in range(args.random_streams):
            raw = [
                (
                    rng.choice(["e", "f"]),
                    rng.randint(0, 3),
                    rng.randint(0, 6),
                )
                for _ in range(rng.randint(0, 12))
            ]
            stream = _mk_stream(raw)
            for pname, pat in PATTERNS:
                for strat in STRATEGIES:
                    cases.append((f"rand{s}:{pname}/{strat}", pat, strat, stream))
    if args.limit:
        cases = cases[: args.limit]
    t0 = time.time()
    failures = []
    # Pre-build + cache every distinct stream DF single-threaded so the
    # worker threads only submit read-only jobs against cached frames.
    df_cache = {id(None): df}
    for _, _, _, stream in cases:
        if stream is not None and id(stream) not in df_cache:
            srows = [
                (k, i + 1, t, a["name"], a["price"])
                for k in range(2)
                for i, (t, a) in enumerate(stream)
            ]
            sdf = spark.createDataFrame(
                srows, "user_id int, id long, etype string, name long, price long"
            ).cache()
            sdf.count()
            df_cache[id(stream)] = sdf

    def check_case(case):
        cid, pat, strategy, stream = case
        want = canon(
            {n: list(ids) for n, ids in m.items()}
            for m in _ref_matches(
                pat, strategy, stream=stream if stream is not None else STREAM
            )
        )
        q = Query.from_dict(
            {
                "patseq": pat,
                "context": {
                    "schema": {
                        "e": ["id", "name", "price"],
                        "f": ["id", "name", "price"],
                    },
                    "strategy": strategy,
                },
            }
        )
        out = match_pattern(
            df_cache[id(stream)], q, order_by="id", partition_by="user_id",
            type_col="etype", allow_fastpath=not args.no_fastpath,
        ).collect()
        case_failures = []
        for key in (0, 1):
            got_caps = canon(
                {
                    n: [e["id"] for e in (r[n] or [])]
                    for n in q.names
                    if r[n] is not None
                }
                for r in out
                if r["user_id"] == key
            )
            if got_caps != want:
                case_failures.append((cid, key, got_caps, want))
        return case_failures

    # Concurrent submission: each case is an independent read-only job
    # against a cached DF; Spark's FIFO scheduler interleaves them and
    # the Py4J socket I/O releases the GIL, so wall-clock drops ~4x.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, args.threads)) as pool:
        for idx, case_failures in enumerate(pool.map(check_case, cases)):
            failures.extend(case_failures)
            if (idx + 1) % 250 == 0:
                print(
                    f"  {idx + 1}/{len(cases)} checked, {len(failures)} "
                    f"failures, {time.time() - t0:.0f}s", flush=True)

    print(f"{len(cases)} cases x 2 keys in {time.time() - t0:.0f}s; "
          f"{len(failures)} failures")
    # Per-division agreement rollup — the analog of the reference's
    # per-division SAME/DIFF collection (reference exp/gencsv.py:37-46).
    by_div: dict[str, list[int]] = {}
    failed_ids = {cid for cid, *_ in failures}
    for cid, *_ in cases:
        div = cid.split(":", 1)[0] if ":" in cid else "handwritten"
        tot = by_div.setdefault(div, [0, 0])
        tot[0] += 1
        tot[1] += cid in failed_ids
    for div, (n, bad) in sorted(by_div.items()):
        print(f"  {div}: {n - bad}/{n} agree")
    for cid, key, got, want in failures[:5]:
        print("FAIL", cid, "key", key)
        print("  got ", got)
        print("  want", want)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
