"""Runtime guard for the `within_col` monotonicity precondition.

Time-based ``within`` (a stamp column decoupled from the order column)
is only correct when stamps are non-decreasing in order-column order
per key — run pruning (cep/runtime.py) drops runs by ``stamp - first >
within`` and assumes monotone stamps.  Before round 14 the precondition
was only documented: real data where event order and event time
disagree yielded silently dropped or spurious matches.  Both kernels
now CHECK it — the batch kernel with a vectorized per-group pass, the
streaming kernel per event with the last stamp persisted in the key's
state so regressions ACROSS micro-batches are caught too.
"""

from __future__ import annotations

import os
import time

import pytest

from reflinkcep_spark import Query
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.cep.keyed import _load_engine, _save_engine
from reflinkcep_spark.streaming.cep import match_pattern_stream

SCHEMA = "user_id int, id int, stamp long, event_type string, value int"

Q_PAIR = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:  {type: spat, name: a, event: e, cndt: {expr: value > 0}}
  right: {type: spat, name: b, event: e, cndt: {expr: value > 0}}
context:
  schema: {e: [id, stamp, value]}
"""


def _df(spark, stamps):
    rows = [
        (1, i + 1, s, "e", 10 * (i + 1)) for i, s in enumerate(stamps)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _run(spark, stamps):
    return match_pattern(
        _df(spark, stamps),
        Query.from_yaml(Q_PAIR),
        order_by="id",
        partition_by="user_id",
        type_col="event_type",
        within=1_000,
        within_col="stamp",
        allow_fastpath=False,
    ).collect()


def test_batch_regressing_stamp_raises(spark):
    with pytest.raises(Exception, match="regresses"):
        _run(spark, [10, 20, 15, 30])


def test_batch_null_stamp_raises(spark):
    with pytest.raises(Exception, match="NULL stamp"):
        _run(spark, [10, None, 20, 30])


def test_batch_monotone_stamps_pass(spark):
    # ties are legal (equal stamps = simultaneous events)
    got = _run(spark, [10, 20, 20, 30])
    assert len(got) > 0


def test_batch_guard_only_when_within_set(spark):
    # within_col without within is inert (stamps unused) — a
    # regressing stamp must NOT raise, matching the no-op semantics
    out = match_pattern(
        _df(spark, [10, 20, 15, 30]),
        Query.from_yaml(Q_PAIR),
        order_by="id",
        partition_by="user_id",
        type_col="event_type",
        within_col="stamp",
        allow_fastpath=False,
    ).collect()
    assert len(out) > 0


def test_save_load_engine_roundtrips_last_stamp():
    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine

    q = Query.from_yaml(Q_PAIR)
    eng = MatchEngine(compile_query(q), q.strategy)
    blob = _save_engine(eng, match_seq=3, buffer={}, pending=[], last_stamp=42)
    eng2 = MatchEngine(compile_query(q), q.strategy)
    match_seq, buffer, pending, last_stamp, emitted = _load_engine(blob, eng2)
    assert (match_seq, last_stamp, emitted) == (3, 42, None)


def test_load_engine_legacy_blob_defaults_last_stamp_none():
    # pre-round-14 checkpoints are a 5-tuple (no last_stamp) — they
    # must load cleanly with last_stamp None (same migration contract
    # as the eps_seen bitmask coercion)
    import pickle

    from reflinkcep_spark.cep.compiler import compile_query
    from reflinkcep_spark.cep.runtime import MatchEngine

    q = Query.from_yaml(Q_PAIR)
    eng = MatchEngine(compile_query(q), q.strategy)
    new = pickle.loads(_save_engine(eng, 1, {}, [], last_stamp=7))
    legacy = pickle.dumps(new[:5])
    eng2 = MatchEngine(compile_query(q), q.strategy)
    _seq, _buf, _pend, last_stamp, emitted = _load_engine(legacy, eng2)
    assert last_stamp is None and emitted is None


def test_stream_cross_batch_regression_raises(spark, tmp_path):
    """Intra-batch monotone, cross-batch regressing: only the
    state-persisted last stamp can catch this (a per-batch check sees
    two individually clean batches)."""
    batches = [
        [(1, 1, 10, "e", 10), (1, 2, 20, "e", 20)],
        [(1, 3, 5, "e", 30), (1, 4, 25, "e", 40)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
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
        stream,
        Query.from_yaml(Q_PAIR),
        order_by="id",
        partition_by="user_id",
        type_col="event_type",
        within=1_000,
        within_col="stamp",
    )
    sink = f"within_guard_{os.getpid()}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="regresses"):
        q.awaitTermination(120)
        raise AssertionError(
            "stream finished cleanly — cross-batch stamp regression "
            "was not caught"
        )
