"""Event-time streaming CEP: the watermark-gated reorder buffer must
repair out-of-order arrival.

Rows are dealt round-robin across micro-batch files, so each key's
events arrive INTERLEAVED and out of ts order — the arrival-order mode
would produce garbage.  Expected output = the batch kernel on exactly
the events the final watermark released: with availableNow, the
watermark while processing batch N is max(ts of batches < N) − delay,
so events later than that stay parked in state and never feed.
"""

import datetime
import os
import time

from reflinkcep_spark import Query
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.streaming import match_pattern_stream

Q_SEQ = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: a, event: e, cndt: {expr: name == 1}}
  right: {type: spat, name: b, event: e, cndt: {expr: name == 9}}
context:
  schema: {e: [id, name]}
"""

SCHEMA = "user_id int, id long, ts timestamp, type string, name long"
BASE = datetime.datetime(2024, 1, 1)
DELAY_S = 60


def _rows():
    pattern = [1, 7, 1, 9, 7, 1, 9, 1, 9, 7, 1, 9]
    return [
        (k, i + 1, BASE + datetime.timedelta(seconds=30 * i), "e", n)
        for k in range(2)
        for i, n in enumerate(pattern)
    ]


def _canon(rows):
    return sorted(
        (
            r["user_id"],
            tuple(e["id"] for e in (r["a"] or [])),
            tuple(e["id"] for e in (r["b"] or [])),
        )
        for r in rows
    )


def _deal(rows):
    """The rows dealt round-robin into 3 micro-batch files (each key's
    events arrive ts-interleaved), and the rows the stream feeds.

    Replay the watermark protocol: while processing batch i the
    watermark is max(ts of batches < i) - delay.  A row later than the
    watermark at its arrival is dropped (late); a surviving row feeds
    once the watermark reaches its ts — i.e. by the last batch iff
    ts <= final watermark."""
    files = [rows[0::3], rows[1::3], rows[2::3]]
    delay = datetime.timedelta(seconds=DELAY_S)
    wm = datetime.datetime.min  # no watermark before the first batch
    kept: list = []
    for i, chunk in enumerate(files):
        if i > 0:
            wm = max(r[2] for c in files[:i] for r in c) - delay
        kept.extend(r for r in chunk if r[2] >= wm)
    final_wm = max(r[2] for c in files[:-1] for r in c) - delay
    return files, [r for r in kept if r[2] <= final_wm]


def _stream(spark, tmp_path, files, query, schema=SCHEMA, order_by="id"):
    """``match_pattern_stream`` in event-time mode over ``files``, one
    micro-batch each; returns the emitted rows."""
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(files):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
        t = time.time() + i
        for root, _dirs, fs in os.walk(src / f"part{i}"):
            for f in fs:
                os.utime(os.path.join(root, f), (t, t))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
        .withWatermark("ts", f"{DELAY_S} seconds")
    )
    out = match_pattern_stream(
        stream, query, order_by=order_by, partition_by="user_id",
        type_col="type", event_time_col="ts",
    )
    sink = f"stream_evt_{os.getpid()}_{tmp_path.name}"
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(sink).collect()


def test_event_time_reorder_buffer(spark, tmp_path):
    query = Query.from_yaml(Q_SEQ)
    rows = _rows()
    files, fed = _deal(rows)
    assert fed and len(fed) < len(rows)
    want = _canon(
        match_pattern(
            spark.createDataFrame(fed, SCHEMA), query, order_by="id",
            partition_by="user_id", type_col="type", allow_fastpath=False,
        ).collect()
    )
    assert want
    assert _canon(_stream(spark, tmp_path, files, query)) == want


def test_event_time_release_sorts_a_null_order_value_last(spark, tmp_path):
    """The reorder buffer releases rows in the batch kernel's per-key
    order, so a NULL in a string ``order_by`` column sorts last, as in
    batch (a sort on the raw values fails: None against str).  Rows 9
    and 10 of each key share an event time, so the last micro-batch
    releases rows 8-10 together; row 9 has the NULL and ends a match."""
    query = Query.from_yaml(Q_SEQ)
    schema = SCHEMA + ", seq string"
    ts9 = BASE + datetime.timedelta(seconds=30 * 8)
    rows = [
        (k, i, ts9 if i == 10 else ts, t, n, None if i == 9 else f"s{i:02d}")
        for k, i, ts, t, n in _rows()
    ]
    files, fed = _deal(rows)

    def digest(out):
        return sorted(
            (r["user_id"], r["match_seq"], r["start_ord"], r["end_ord"],
             tuple(e["id"] for e in r["a"]), tuple(e["id"] for e in r["b"]))
            for r in out
        )

    want = digest(
        match_pattern(
            spark.createDataFrame(fed, schema), query, order_by="seq",
            partition_by="user_id", type_col="type", allow_fastpath=False,
        ).collect()
    )
    assert [w[3] for w in want].count(None) == 2
    got = digest(_stream(spark, tmp_path, files, query, schema, order_by="seq"))
    assert got == want
