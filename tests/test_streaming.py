"""Streaming CEP kernel: cross-micro-batch state parity with batch.

The same per-key event stream is split across several parquet files and
replayed through the file source one file per micro-batch
(``maxFilesPerTrigger=1`` + ``availableNow``), so live run-sets MUST
survive the state store round trip for matches that span batches.
Results are compared with the batch kernel on the unsplit input.
"""

import os
import time

import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.streaming import match_pattern_stream

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

    src = tmp_path / "src"
    src.mkdir()
    by_order = sorted(rows, key=lambda r: r[1])
    for i in range(0, len(by_order), 4):
        spark.createDataFrame(by_order[i : i + 4], SCHEMA).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, query, order_by="id", partition_by="user_id", type_col="type"
    )
    sink = f"stream_skip_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _canon_caps(spark.table(sink).collect(), ["errs"]) == want


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

    src = tmp_path / "src"
    src.mkdir()
    by_order = sorted(rows, key=lambda r: r[1])
    for i in range(0, len(by_order), 4):  # 2 ids x 2 keys per file
        spark.createDataFrame(by_order[i : i + 4], SCHEMA).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, query, order_by="id", partition_by="user_id", type_col="type"
    )
    sink = f"stream_iter_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _canon_caps(spark.table(sink).collect(), ["run"]) == want


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
    src = tmp_path / "src"
    src.mkdir()
    by_order = sorted(rows, key=lambda r: r[1])
    cuts = [by_order[0:8], by_order[8:16], by_order[16:24]]
    for i, chunk in enumerate(cuts):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i  # strictly increasing mtimes => batch order
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream,
        query,
        order_by="id",
        partition_by="user_id",
        type_col="type",
        idle_timeout_ms=idle_timeout_ms,
    )
    sink = f"stream_cep_{os.getpid()}_{1 if idle_timeout_ms else 0}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _canon(spark.table(sink).collect())
    assert got == want


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

    src = tmp_path / "src"
    src.mkdir()
    by_order = sorted(rows, key=lambda r: r[1])
    for i in range(0, len(by_order), 4):
        spark.createDataFrame(by_order[i : i + 4], SCHEMA).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, query, order_by="id", partition_by="user_id", type_col="type"
    )
    sink = f"stream_skipto_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _canon_caps(spark.table(sink).collect(), ["b", "c"]) == want


def test_load_engine_coerces_legacy_eps_tuple():
    """Checkpoint-format migration: ``_Cfg.eps_seen`` was a tuple of
    state ids before it became an int bitmask.  A blob saved in the
    old format must load cleanly and keep matching identically — the
    unmigrated state crashed on the first ``eps_seen & (1 << dst)``."""
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
        (
            k,
            (
                state,
                env,
                caps,
                last_take,
                tuple(b for b in range(eps.bit_length()) if eps >> b & 1),
                first,
            ),
        )
        for k, (state, env, caps, last_take, eps, first) in runs
    ]
    legacy = pickle.dumps((pos, legacy_runs, match_seq, buffer, pending))

    eng2 = MatchEngine(aut, q.strategy)
    _load_engine(legacy, eng2)
    assert all(isinstance(c.eps_seen, int) for _k, c in eng2.runs)
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
