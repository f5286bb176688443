"""Idle-timeout (state TTL) eviction in the streaming CEP kernel.

``idle_timeout_ms`` drops a key's run-set after processing-time
inactivity — mandatory hygiene at a 100 TB keyspace, but it must do so
*correctly*:

* arrival-order mode: an evicted key's partial runs are gone for good —
  a later completing event must NOT resurrect them into a match;
* event-time mode: eviction first flushes parked events the watermark
  has already released, so matches fully determined before the timeout
  still emit (the flush-on-evict path in streaming/cep.py ``step``).

Each micro-batch is one file (``maxFilesPerTrigger=1`` +
``availableNow``); a 1 ms timeout is guaranteed-expired by the next
batch, and a second key receives data every batch to keep batches
flowing while the key under test sits idle.
"""

import datetime
import os
import time

from reflinkcep_spark import Query
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.streaming import match_pattern_stream
from tests.conftest import drain_stream

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

SCHEMA = "user_id int, id long, type string, name long, price long"
TS_SCHEMA = "user_id int, id long, ts timestamp, type string, name long, price long"


def _write_batches(spark, src, schema, batches):
    src.mkdir()
    for i, chunk in enumerate(batches):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, files in os.walk(src / f"part{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))


def _run_stream(spark, src, schema, tmp_path, sink, **kw):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    if "event_time_col" in kw:
        stream = stream.withWatermark(kw["event_time_col"], "5 seconds")
    out = match_pattern_stream(
        stream, Query.from_yaml(Q_PAIR), order_by="id",
        partition_by="user_id", type_col="type", **kw,
    )
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{sink}"))
        .trigger(availableNow=True)
        .start()
    )
    drain_stream(q)
    return spark.table(sink).collect()


def test_idle_timeout_evicts_partial_runs(spark, tmp_path):
    # Key 0: 'a' in batch 0, completing 'b' only in batch 2 — with a
    # 1 ms TTL the key is evicted during batch 1 (no key-0 data), so
    # the late 'b' starts from a FRESH run-set and must not match.
    # Key 1 has data every batch (never idle) and must still match.
    batches = [
        [(0, 1, "e", 1, 0), (1, 1, "e", 1, 0)],
        [(1, 2, "e", 5, 0)],
        [(0, 3, "e", 9, 0), (1, 3, "e", 9, 0)],
    ]
    src = tmp_path / "src_evict"
    _write_batches(spark, src, SCHEMA, batches)

    got = _run_stream(
        spark, src, SCHEMA, tmp_path, f"evict_{os.getpid()}",
        idle_timeout_ms=1,
    )
    assert {r["user_id"] for r in got} == {1}

    # Control: without the TTL the cross-batch run survives for both.
    control = _run_stream(
        spark, src, SCHEMA, tmp_path, f"evictctl_{os.getpid()}",
    )
    assert {r["user_id"] for r in control} == {0, 1}

    # The batch kernel on the unsplit input agrees with the control.
    want = match_pattern(
        spark.createDataFrame([r for b in batches for r in b], SCHEMA),
        Query.from_yaml(Q_PAIR), order_by="id", partition_by="user_id",
        type_col="type", allow_fastpath=False,
    ).collect()
    assert {r["user_id"] for r in want} == {0, 1}


def test_idle_timeout_flushes_watermark_released_pending(spark, tmp_path):
    # Event-time mode.  Key 0's full match (a then b) arrives in batch
    # 0 but is PARKED (watermark still at epoch during the first
    # batch).  Key 1's far-future row in batch 0 advances the
    # watermark past key 0's events for batch 1, where key 0 is idle
    # and times out.  Eviction must feed the released parked events —
    # emitting the match — before dropping the state.
    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    batches = [
        [
            (0, 1, ts(0), "e", 1, 0),
            (0, 2, ts(5), "e", 9, 0),
            (1, 3, ts(30), "e", 5, 0),
        ],
        [(1, 4, ts(31), "e", 5, 0)],
        [(1, 5, ts(32), "e", 5, 0)],
    ]
    src = tmp_path / "src_flush"
    _write_batches(spark, src, TS_SCHEMA, batches)

    got = _run_stream(
        spark, src, TS_SCHEMA, tmp_path, f"flush_{os.getpid()}",
        idle_timeout_ms=1, event_time_col="ts",
    )
    key0 = [r for r in got if r["user_id"] == 0]
    assert len(key0) == 1
    assert [e["id"] for e in key0[0]["a"]] == [1]
    assert [e["id"] for e in key0[0]["b"]] == [2]
