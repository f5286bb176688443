"""Streaming CEP kernel: cross-micro-batch state parity with batch.

The same per-key event stream is split across several parquet files and
replayed through the file source one file per micro-batch
(``maxFilesPerTrigger=1`` + ``availableNow``), so live run-sets MUST
survive the state store round trip for matches that span batches.
Results are compared with the batch kernel on the unsplit input.
"""

import datetime
import os
import time

import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.streaming import match_pattern_stream
from tests.conftest import drain_stream

Q_SEQ = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: lpat
    name: burst
    event: e
    cndt: {expr: name == 1}
    loop: {contiguity: relaxed, from: 2, to: 2}
  right:
    type: spat
    name: stop
    event: e
    cndt: {expr: name == 9}
context:
  schema: {e: [id, name, price]}
"""

# Per-key stream: the two name==1 events land in DIFFERENT micro-batch
# files than the closing name==9 event, forcing cross-batch state.
PAIRS = [(1, 0), (7, 0), (1, 1), (7, 2), (9, 0), (1, 3), (1, 4), (9, 1)]


def _rows(n_keys=3):
    return [
        (k, i + 1, "e", n, p)
        for k in range(n_keys)
        for i, (n, p) in enumerate(PAIRS)
    ]


SCHEMA = "user_id int, id long, type string, name long, price long"
TS_SCHEMA = "user_id int, id long, ts timestamp, type string, name long, price long"
DELAY_S = 60


def _write_parts(spark, src, chunks, first=0, schema=SCHEMA):
    """One parquet file per chunk (``part{first}``, ``part{first+1}``…)
    with strictly increasing mtimes, so ``maxFilesPerTrigger=1`` replays
    them in order, one micro-batch each."""
    src.mkdir(exist_ok=True)
    for i, chunk in enumerate(chunks, first):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))


def _stream_writer(spark, src, query, checkpoint, schema=SCHEMA, **kw):
    """A writer that replays ``src`` through ``match_pattern_stream``,
    one file per micro-batch (under a ``DELAY_S`` watermark in
    event-time mode)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    if "event_time_col" in kw:
        stream = stream.withWatermark(kw["event_time_col"], f"{DELAY_S} seconds")
    out = match_pattern_stream(
        stream, query, order_by="id", partition_by="user_id",
        type_col="type", **kw,
    )
    return (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
    )


def _run_stream(spark, src, query, sink, checkpoint, **kw):
    """Replay ``src`` into the memory table ``sink``; returns its rows."""
    writer = _stream_writer(spark, src, query, checkpoint, **kw)
    drain_stream(writer.format("memory").queryName(sink).start())
    return spark.table(sink).collect()


def _canon(rows):
    return sorted(
        (
            r["user_id"],
            tuple(e["id"] for e in (r["burst"] or [])),
            tuple(e["id"] for e in (r["stop"] or [])),
        )
        for r in rows
    )


Q_SKIP = """
type: query
patseq:
  type: lpat-inf
  name: errs
  event: e
  cndt: {expr: name == 1}
  loop: {contiguity: strict, from: 2}
context:
  strategy: SkipPastLastEvent
  schema: {e: [id, name, price]}
"""


def test_stream_skip_strategy_state(spark, tmp_path):
    """SkipPastLastEvent clears the whole run-set on emission; that
    cleared state must round-trip between micro-batches (a stale
    pre-clear run-set would re-emit skipped matches)."""
    query = Query.from_yaml(Q_SKIP)
    pairs = [(1, 0), (1, 1), (1, 2), (2, 0), (1, 3), (1, 4), (1, 5)]
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(2)
        for i, (n, p) in enumerate(pairs)
    ]
    want = _canon_caps(
        match_pattern(
            spark.createDataFrame(rows, SCHEMA), query, order_by="id",
            partition_by="user_id", type_col="type", allow_fastpath=False,
        ).collect(),
        ["errs"],
    )
    assert want

    by_order = sorted(rows, key=lambda r: r[1])
    # 2 ids x 2 keys per file
    chunks = [by_order[i : i + 4] for i in range(0, len(by_order), 4)]
    _write_parts(spark, tmp_path / "src", chunks)
    got = _run_stream(
        spark, tmp_path / "src", query, f"stream_skip_{os.getpid()}",
        tmp_path / "ckpt",
    )
    assert _canon_caps(got, ["errs"]) == want


Q_ITER = """
type: query
patseq:
  type: lpat-inf
  name: run
  event: e
  cndt: {expr: X + price <= 6}
  variables:
    X: {update: X + price, initial: 0}
  loop: {contiguity: strict, from: 2}
context:
  schema: {e: [id, name, price]}
"""


def test_stream_iterative_condition_state(spark, tmp_path):
    """Data-variable environments (running sums) must survive the
    pickled state round trip between micro-batches: feed 2 events per
    batch so every multi-event run crosses a batch boundary."""
    query = Query.from_yaml(Q_ITER)
    pairs = [(1, 2), (1, 1), (1, 2), (1, 9), (1, 3), (1, 3), (1, 1)]
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(2)
        for i, (n, p) in enumerate(pairs)
    ]
    want = _canon_caps(
        match_pattern(
            spark.createDataFrame(rows, SCHEMA), query, order_by="id",
            partition_by="user_id", type_col="type", allow_fastpath=False,
        ).collect(),
        ["run"],
    )
    assert want

    by_order = sorted(rows, key=lambda r: r[1])
    # 2 ids x 2 keys per file
    chunks = [by_order[i : i + 4] for i in range(0, len(by_order), 4)]
    _write_parts(spark, tmp_path / "src", chunks)
    got = _run_stream(
        spark, tmp_path / "src", query, f"stream_iter_{os.getpid()}",
        tmp_path / "ckpt",
    )
    assert _canon_caps(got, ["run"]) == want


def _canon_caps(rows, names):
    return sorted(
        (r["user_id"],)
        + tuple(tuple(e["id"] for e in (r[n] or [])) for n in names)
        for r in rows
    )


@pytest.mark.parametrize("idle_timeout_ms", [None, 60_000])
def test_stream_matches_batch(spark, tmp_path, idle_timeout_ms):
    query = Query.from_yaml(Q_SEQ)
    rows = _rows()
    batch_df = spark.createDataFrame(rows, SCHEMA)
    want = _canon(
        match_pattern(
            batch_df, query, order_by="id", partition_by="user_id",
            type_col="type", allow_fastpath=False,
        ).collect()
    )
    assert want  # the case must be non-trivial

    # Split each key's stream into 3 chronological files.
    by_order = sorted(rows, key=lambda r: r[1])
    _write_parts(
        spark, tmp_path / "src",
        [by_order[0:8], by_order[8:16], by_order[16:24]],
    )
    got = _canon(
        _run_stream(
            spark, tmp_path / "src", query,
            f"stream_cep_{os.getpid()}_{1 if idle_timeout_ms else 0}",
            tmp_path / "ckpt", idle_timeout_ms=idle_timeout_ms,
        )
    )
    assert got == want


def _restart_runs(spark, tmp_path, query, cuts, stop_after, **kw):
    """Replay ``cuts`` (one file each) twice: stopped after the first
    ``stop_after`` files and restarted on the same checkpoint once the
    rest are added, and uninterrupted.  Both runs must give the same
    rows, each run of the restarted stream some of them, and none
    twice.  Returns the rows after the restart, and all rows.

    The memory sink cannot recover from a checkpoint; the file sink
    can, and its output directory holds the rows of every run."""
    src = tmp_path / "src"
    schema = kw.get("schema", SCHEMA)

    def run(name):
        out = tmp_path / name
        writer = _stream_writer(spark, src, query, tmp_path / f"ckpt_{name}", **kw)
        drain_stream(writer.format("parquet").start(str(out)))
        return spark.read.parquet(str(out)).collect()

    _write_parts(spark, src, cuts[:stop_after], schema=schema)
    first = run("restarted")
    _write_parts(spark, src, cuts[stop_after:], first=stop_after, schema=schema)
    both = run("restarted")
    full = run("uninterrupted")

    seen = set(map(str, first))
    second = [r for r in both if str(r) not in seen]
    assert first and len(second) == len(both) - len(first) > 0
    assert sorted(map(str, both)) == sorted(map(str, full))
    return second, both


def _batch(spark, rows, query, schema=SCHEMA, **kw):
    return match_pattern(
        spark.createDataFrame(rows, schema), query, order_by="id",
        partition_by="user_id", type_col="type", allow_fastpath=False, **kw,
    ).collect()


def _split_by_id(rows, *bounds):
    """Per key, one chunk of ids up to each bound, then the rest."""
    by_id = sorted(rows, key=lambda r: r[1])
    out, lo = [], 0
    for hi in bounds:
        out.append([r for r in by_id if lo < r[1] <= hi])
        lo = hi
    return out + [[r for r in by_id if r[1] > lo]]


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """A stream stopped between micro-batches and restarted on the same
    checkpoint resumes every key's run-set and ``match_seq``: the rows
    of both runs together equal one uninterrupted run and the batch
    kernel on the whole input, with no match lost or emitted twice."""
    query = Query.from_yaml(Q_SEQ)
    rows = _rows()
    want = _canon(_batch(spark, rows, query))
    # Per key, ids 1-3 | 4-5 | 6-8.  The first run ends after id 5 with
    # the burst (1, 3) matched and a run holding burst event 3 still
    # open; after the restart, ids 6 and 8 complete it as (3, 6) → 8.
    second, both = _restart_runs(
        spark, tmp_path, query, _split_by_id(rows, 3, 5), 2,
    )
    assert (3, 6) in {tuple(e["id"] for e in r["burst"]) for r in second}
    assert _canon(both) == want


def test_stream_restart_under_idle_timeout(spark, tmp_path):
    """The same restart with the state under a processing-time timeout
    that never fires: the timeout changes how Spark stores the state,
    and the open run must still survive the restart."""
    query = Query.from_yaml(Q_SEQ)
    rows = _rows()
    want = _canon(_batch(spark, rows, query))
    second, both = _restart_runs(
        spark, tmp_path, query, _split_by_id(rows, 3, 5), 2,
        idle_timeout_ms=600_000,
    )
    assert (3, 6) in {tuple(e["id"] for e in r["burst"]) for r in second}
    assert _canon(both) == want


def test_stream_restart_keeps_the_within_bound(spark, tmp_path):
    """A run opened before the restart is still bounded by ``within``
    after it: the open burst (3, 6) spans 3 → 8 = 5 ids, past the bound
    of 4, and must not complete, while (6, 7) → 8 does."""
    query = Query.from_yaml(Q_SEQ)
    rows = _rows()
    want = _canon(_batch(spark, rows, query, within=4))
    second, both = _restart_runs(
        spark, tmp_path, query, _split_by_id(rows, 3, 5), 2, within=4,
    )
    bursts = {tuple(e["id"] for e in r["burst"]) for r in both}
    assert (3, 6) not in bursts
    assert (6, 7) in {tuple(e["id"] for e in r["burst"]) for r in second}
    assert _canon(both) == want


def test_stream_restart_keeps_data_variables(spark, tmp_path):
    """A run's data-variable environment (the running sum ``X``) is
    part of the checkpointed state: per key, ids 1-2 | 3-5 | 6-7 with a
    stop after id 5, and the run opened at id 5 (``X`` = 3) completes
    as (5, 6) only if its sum survived the restart."""
    query = Query.from_yaml(Q_ITER)
    pairs = [(1, 2), (1, 1), (1, 2), (1, 9), (1, 3), (1, 3), (1, 1)]
    rows = [
        (k, i + 1, "e", n, p) for k in range(2) for i, (n, p) in enumerate(pairs)
    ]
    want = _canon_caps(_batch(spark, rows, query), ["run"])
    second, both = _restart_runs(
        spark, tmp_path, query, _split_by_id(rows, 2, 5), 2,
    )
    assert (5, 6) in {tuple(e["id"] for e in r["run"]) for r in second}
    assert _canon_caps(both, ["run"]) == want


def test_stream_restart_keeps_skip_strategy_state(spark, tmp_path):
    """SkipPastLastEvent's cleared run-set is checkpointed like any
    other: per key, ids 1-3 | 4-5 | 6-7 with a stop after id 5.  The
    match (1, 2) cleared the runs opened at ids 2 and 3; a restart that
    brought them back would emit extra matches after it."""
    query = Query.from_yaml(Q_SKIP)
    pairs = [(1, 0), (1, 1), (1, 2), (2, 0), (1, 3), (1, 4), (1, 5)]
    rows = [
        (k, i + 1, "e", n, p) for k in range(2) for i, (n, p) in enumerate(pairs)
    ]
    want = _canon_caps(_batch(spark, rows, query), ["errs"])
    second, both = _restart_runs(
        spark, tmp_path, query, _split_by_id(rows, 3, 5), 2,
    )
    assert _canon_caps(both, ["errs"]) == want


Q_PAIR = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: a, event: e, cndt: {expr: name == 1}}
  right: {type: spat, name: b, event: e, cndt: {expr: name == 9}}
context:
  schema: {e: [id, name, price]}
"""


def test_stream_restart_keeps_parked_events(spark, tmp_path):
    """Event-time mode parks events above the watermark in the key's
    state; a restart must keep them.  Per key, one file each of ids
    1-3 | 4-6 | 7-9, then 10-12 after the restart, 30 s apart under a
    60 s delay: the watermark reaches id 4 in the third batch and id 7
    in the fourth, so ids 5-7, parked at the stop, feed only after the
    restart and complete (6) → 7.  Ids past the last watermark stay
    parked in both runs."""
    query = Query.from_yaml(Q_PAIR)
    base = datetime.datetime(2024, 1, 1)
    names = [1, 7, 1, 9, 7, 1, 9, 1, 9, 7, 1, 9]
    rows = [
        (k, i + 1, base + datetime.timedelta(seconds=30 * i), "e", n, 0)
        for k in range(2)
        for i, n in enumerate(names)
    ]
    by_id = sorted(rows, key=lambda r: r[1])
    cuts = [by_id[i : i + 6] for i in range(0, len(by_id), 6)]
    want = _canon_caps(
        _batch(spark, [r for r in rows if r[1] <= 7], query, TS_SCHEMA),
        ["a", "b"],
    )
    second, both = _restart_runs(
        spark, tmp_path, query, cuts, 3, schema=TS_SCHEMA,
        event_time_col="ts",
    )
    assert {(r["a"][0]["id"], r["b"][0]["id"]) for r in second} == {(6, 7)}
    assert _canon_caps(both, ["a", "b"]) == want


Q_SKIP_TO_LAST = """
type: query
patseq:
  type: combine
  contiguity: strict
  left:
    type: lpat-inf
    name: b
    event: e
    cndt: {expr: name == 2}
    loop: {contiguity: strict, from: 1}
  right:
    type: spat
    name: c
    event: e
    cndt: {expr: name == 3}
context:
  schema: {e: [id, name, price]}
  strategy: "SkipToLast:b"
"""


def test_stream_parameterized_skip_state(spark, tmp_path):
    """SkipToLast's positional pruning must round-trip: the emitted
    match's threshold kills runs living in the persisted state, so a
    stale run-set would re-emit the pruned b2b3c suffix."""
    query = Query.from_yaml(Q_SKIP_TO_LAST)
    pairs = [(2, 0), (2, 1), (2, 2), (3, 0), (2, 3), (2, 4), (3, 1)]
    rows = [
        (k, i + 1, "e", n, p)
        for k in range(2)
        for i, (n, p) in enumerate(pairs)
    ]
    want = _canon_caps(
        match_pattern(
            spark.createDataFrame(rows, SCHEMA), query, order_by="id",
            partition_by="user_id", type_col="type", allow_fastpath=False,
        ).collect(),
        ["b", "c"],
    )
    assert want

    by_order = sorted(rows, key=lambda r: r[1])
    # 2 ids x 2 keys per file
    chunks = [by_order[i : i + 4] for i in range(0, len(by_order), 4)]
    _write_parts(spark, tmp_path / "src", chunks)
    got = _run_stream(
        spark, tmp_path / "src", query, f"stream_skipto_{os.getpid()}",
        tmp_path / "ckpt",
    )
    assert _canon_caps(got, ["b", "c"]) == want


def test_load_engine_coerces_legacy_eps_tuple():
    """Checkpoint-format migration: runs once carried a take flag and an
    ε-guard (``eps_seen``, first a tuple of state ids, later an int
    bitmask) before their first stamp.  A blob saved in that layout
    must load cleanly and keep matching identically: the step table
    needs neither field, so the restore skips them."""
    import pickle

    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine
    from reflinkcep_spark.cep.keyed import _load_engine, _save_engine

    q = Query.from_yaml(Q_SEQ)
    aut = compile_query(q)

    def run(events, engine):
        out = []
        for i, (name, price) in enumerate(events):
            out.extend(
                engine.feed("e", {"id": i + 1, "name": name, "price": price})
            )
        return [
            tuple(sorted((k, tuple(v)) for k, v in m.captures.items()))
            for m in out
        ]

    # Uninterrupted engine over the whole stream = the expected result.
    expected = run(PAIRS, MatchEngine(aut, q.strategy))

    # Interrupted engine: run the first half, checkpoint, rewrite the
    # blob to the LEGACY tuple format, restore, finish the stream.
    half = len(PAIRS) // 2
    eng = MatchEngine(aut, q.strategy)
    first = run(PAIRS[:half], eng)
    blob = _save_engine(eng, match_seq=0, buffer={}, pending=[])
    # [:5] — round 14 appended last_stamp; this test builds the LEGACY
    # 5-tuple layout on purpose
    pos, runs, match_seq, buffer, pending = pickle.loads(blob)[:5]
    legacy_runs = [
        (k, (state, env, caps, True, (state,), first))
        for k, (state, env, caps, first) in runs
    ]
    legacy = pickle.dumps((pos, legacy_runs, match_seq, buffer, pending))

    eng2 = MatchEngine(aut, q.strategy)
    _load_engine(legacy, eng2)
    assert legacy_runs and [
        (k, c.state, c.env, c.caps, c.first) for k, c in eng2.runs
    ] == [(k, c.state, c.env, c.caps, c.first) for k, c in eng.runs]
    rest = []
    for i, (name, price) in enumerate(PAIRS[half:]):
        rest.extend(
            eng2.feed(
                "e", {"id": half + i + 1, "name": name, "price": price}
            )
        )
    got = first + [
        tuple(sorted((k, tuple(v)) for k, v in m.captures.items()))
        for m in rest
    ]
    assert got == expected
