"""Bucketed persistence (sinks.write_bucketed): the pay-the-shuffle-
once primitive for 100 TB pipelines.  The value claim is a PLAN
property, so the tests assert it on the plan: two tables bucketed on
the same key join back with zero shuffle exchanges, and an aggregation
on the bucket key is map-side only."""

import re

import pytest
from pyspark.sql import functions as F

from reflinkcep_spark.sinks import write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-capable join strategies so the no-Exchange
    assertion tests bucketing, not the broadcast threshold."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _n_shuffles(plan: str) -> int:
    """Shuffle Exchange nodes in a formatted plan (BroadcastExchange
    excluded; formatted mode names the node bare `Exchange` and puts
    the partitioning in a separate Arguments line)."""
    return len(re.findall(r"(?<!Broadcast)Exchange", plan))


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000, 3).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("rv")
    )
    write_bucketed(left, "t_bleft", "k", buckets=8, path=str(tmp_path / "l"))
    write_bucketed(right, "t_bright", "k", buckets=8, path=str(tmp_path / "r"))
    try:
        joined = spark.table("t_bleft").join(spark.table("t_bright"), "k")
        plan = _formatted_plan(joined)
        assert _n_shuffles(plan) == 0, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # bucket-pruned scan still returns the right rows
        got = {(r["k"], r["lv"], r["rv"]) for r in joined.collect()}
        want = {(k, 2 * k, k + 7) for k in range(0, 1000, 3)}
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_bucketed_groupby_is_mapside_only(spark, tmp_path):
    df = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    write_bucketed(df, "t_bagg", "k", buckets=8, path=str(tmp_path / "a"))
    try:
        agg = spark.table("t_bagg").groupBy("k").agg(F.sum("v").alias("s"))
        plan = _formatted_plan(agg)
        assert _n_shuffles(plan) == 0, plan
        got = {(r["k"], r["s"]) for r in agg.collect()}
        want = {
            (k, sum(v for v in range(5000) if v % 100 == k)) for k in range(100)
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bagg")


def test_unbucketed_baseline_does_exchange(spark, tmp_path, no_broadcast):
    """Control: the same join over plain parquet DOES shuffle — proving
    the bucketed plans above earn their property from bucket metadata,
    not from some session-wide setting."""
    left = spark.range(0, 1000).select(F.col("id").alias("k"))
    right = spark.range(0, 1000).select(F.col("id").alias("k"))
    left.write.mode("overwrite").parquet(str(tmp_path / "pl"))
    right.write.mode("overwrite").parquet(str(tmp_path / "pr"))
    joined = spark.read.parquet(str(tmp_path / "pl")).join(
        spark.read.parquet(str(tmp_path / "pr")), "k"
    )
    assert _n_shuffles(_formatted_plan(joined)) >= 2


def test_bucketed_cep_kernel_runs_shuffle_free(spark, tmp_path):
    """The standing-event-log shape: events bucketed on the CEP key run
    match_pattern(pre_partitioned=True) with ZERO exchanges — bucketed
    Scan → Sort → Window → MapInPandas — and emit exactly the matches
    of the default (repartitioning) path.  Every bucket is written as
    several files, so a scan that dropped its bucketing would split a
    key's rows across tasks and break the per-key match sets."""
    from collections import Counter

    from reflinkcep_spark.cep.query import Pattern
    from reflinkcep_spark.operators import match_pattern

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # three writer tasks, each holding rows of every bucket, write one
    # file per bucket each
    write_bucketed(
        ev.repartition(3), "t_ev_cep", "user_id", buckets=8,
        path=str(tmp_path / "ev"),
    )
    files = Counter(
        re.search(r"_(\d{5})(?:\.c\d+)?\.", f.name).group(1)
        for f in (tmp_path / "ev").glob("part-*")
    )
    assert files and min(files.values()) >= 2, files
    q = (
        Pattern.begin("a", event="error", where="value > 5")
        .one_or_more()
        .followed_by("b", event="purchase")
        .query(
            schema={"error": ["event_id", "value"], "purchase": ["event_id", "value"]},
            strategy="SkipToNext",
        )
    )
    kw = dict(order_by="event_id", partition_by="user_id", type_col="event_type")
    try:
        fast = match_pattern(spark.table("t_ev_cep"), q, pre_partitioned=True, **kw)
        plan = _formatted_plan(fast)
        assert _n_shuffles(plan) == 0, plan
        assert "Bucketed: true" in plan, plan
        assert "MapInPandas" in plan

        base = match_pattern(ev, q, **kw)
        key = ["user_id", "match_seq", "start_ord", "end_ord"]
        got = sorted(tuple(r[c] for c in key) for r in fast.collect())
        want = sorted(tuple(r[c] for c in key) for r in base.collect())
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_cep")


def test_bucketed_sessionize_runs_shuffle_free(spark, tmp_path):
    """Window-based per-key operators need no opt-in at all: a window
    partitioned by the bucket key is satisfied by the bucketed scan's
    distribution, so sessionization over a bucketed event log is
    exchange-free out of the box."""
    from reflinkcep_spark.operators.sessions import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    write_bucketed(ev, "t_ev_sess", "user_id", buckets=8, path=str(tmp_path / "s"))
    try:
        out = sessionize(
            spark.table("t_ev_sess"), gap=30 * 60 * 1_000_000,
            by="user_id", on="ts_us",
        )
        plan = _formatted_plan(out)
        assert _n_shuffles(plan) == 0, plan
        base = sessionize(ev, gap=30 * 60 * 1_000_000, by="user_id", on="ts_us")
        got = sorted(
            (r["user_id"], r["event_id"], r["session_seq"]) for r in out.collect()
        )
        want = sorted(
            (r["user_id"], r["event_id"], r["session_seq"]) for r in base.collect()
        )
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_sess")
