"""The inert-type filter (``KeyedPlan.inert_filter``) in the operators'
plans: both batch paths and the stream drop the rows of event types no
run reacts to right after their projection, below the shuffle, and
keep every match; each case where a dropped row could still matter
plans no filter.  ``tests/test_inert_types.py`` pins the analysis
itself without Spark.
"""

from __future__ import annotations

import random
import re

import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from reflinkcep_spark import Query
from reflinkcep_spark.cep.keyed import UNTYPED, KeyedPlan, KeyMatcher
from reflinkcep_spark.operators import match_pattern
from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML
from reflinkcep_spark.sinks import write_bucketed
from reflinkcep_spark.streaming import match_pattern_stream
from tests.conftest import drain_stream
from tests.test_streaming import _write_parts
from tests.test_window_frames import _nodes_bottom_up, _plan

# The benchmark's kernel pattern: signup, then a relaxed loop of >= 2
# purchases whose running sum stays within 300.  click, error and view
# are declared but no step names them, so they are inert.
SPEND_YAML = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: reg, event: signup, cndt: {expr: "True"}}
  right:
    type: lpat-inf
    name: buys
    event: purchase
    cndt: {expr: S + value <= 300}
    variables:
      S: {update: S + value, initial: 0}
    loop: {contiguity: relaxed, from: 2}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""
SPEND = Query.from_yaml(SPEND_YAML)
# SPEND over purchases alone: a pattern with one declared type.
ONE_TYPE = Query.from_yaml(
    SPEND_YAML.replace("event: signup", "event: purchase")
    .replace("signup: [], purchase: [], error: [], click: [], view: []", "purchase: []")
)
# The signup step alone: SQL selection accepts it (one step, so strict
# throughout), and the other declared types are inert to it.
SIGNUP = Query.from_yaml("""
type: query
patseq: {type: spat, name: reg, event: signup, cndt: {expr: "True"}}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""")
FUNNEL = Query.from_yaml(FUNNEL_YAML)
INERT_IN = re.compile(r"NOT event_type#\d+ IN \(")
COLS = ["user_id", "event_id", "event_type", "value"]
DDL = "user_id long, event_id long, event_type string, value double"
# crash is undeclared (it ends relaxed runs), None is untyped (UNTYPED).
TYPES = ["signup", "purchase", "error", "click", "view", "crash", None]


def _log(n_keys=6, n_events=60, seed=5) -> pd.DataFrame:
    """Keys interleaved over a global ``event_id`` clock, plus one
    inert row with a NULL ``event_id`` per key."""
    rng = random.Random(seed)
    rows = [
        (rng.randrange(n_keys), i,
         rng.choices(TYPES, weights=[3, 6, 2, 3, 2, 1, 1])[0],
         float(rng.randint(1, 150)))
        for i in range(n_keys * n_events)
    ]
    rows += [(k, None, "click", 1.0) for k in range(n_keys)]
    return pd.DataFrame(rows, columns=COLS).astype({"event_id": "Int64"})


def _replay(query, log: pd.DataFrame, **kw) -> list:
    """Every key's rows through ``KeyMatcher``, unfiltered: the
    interpreter's output, as ``(key, match_seq, start, end, capture ids)``."""
    plan = KeyedPlan(
        query, order_by="event_id", type_col="event_type",
        attr_cols=COLS[1:], **kw,
    )
    out = []
    for key, pdf in log.groupby("user_id"):
        pdf = pdf.astype({"event_id": "float64"})  # as Arrow hands it over
        events = plan.events(pdf)
        m = KeyMatcher(plan, {"user_id": key}, last_pos=len(events) - 1)
        out += _digest(m.feed(events) + m.finish(), query.names)
    return sorted(out)


def _digest(rows, names) -> list:
    def ids(cell):
        return None if cell is None else tuple(
            None if e["event_id"] != e["event_id"] else e["event_id"] for e in cell
        )

    def ordv(v):
        return None if v is None or v != v else int(v)

    return [
        (r["user_id"], r["match_seq"], ordv(r["start_ord"]), ordv(r["end_ord"]),
         tuple(ids(r[n]) for n in names))
        for r in rows
    ]


@pytest.fixture(scope="module")
def log_df(spark, tmp_path_factory):
    log = _log()
    path = str(tmp_path_factory.mktemp("inert") / "events")
    spark.createDataFrame(log.astype(object).where(log.notna(), None), DDL) \
        .write.parquet(path)
    return log, spark.read.parquet(path)


def _filter_below_exchange(plan: str) -> None:
    nodes = _nodes_bottom_up(plan)
    at = [i for i, (op, line) in enumerate(nodes) if op == "Filter" and INERT_IN.search(line)]
    first_exchange = next(i for i, (op, _l) in enumerate(nodes) if op == "Exchange")
    assert at and at[0] < first_exchange, plan


def test_kernel_drops_inert_types_below_its_exchange(log_df):
    log, df = log_df
    out = match_pattern(
        df, SPEND, order_by="event_id", partition_by="user_id",
        type_col="event_type", within=40,
    )
    plan = _plan(out)
    assert "MapInPandas" in plan
    _filter_below_exchange(plan)
    got = sorted(_digest(out.collect(), SPEND.names))
    assert got and got == _replay(SPEND, log, within=40)


def test_fastpath_drops_inert_types_below_its_exchange(log_df):
    log, df = log_df
    kw = dict(order_by="event_id", partition_by="user_id", type_col="event_type")
    fast = match_pattern(df, FUNNEL, **kw)
    plan = _plan(fast)
    assert "MapInPandas" not in plan
    _filter_below_exchange(plan)
    got = sorted(_digest(fast.collect(), FUNNEL.names))
    assert got and got == _replay(FUNNEL, log)


def test_bucketed_kernel_with_the_filter_stays_shuffle_free(spark, log_df, tmp_path):
    log, df = log_df
    write_bucketed(df, "t_ev_inert", "user_id", buckets=4, path=str(tmp_path / "b"))
    try:
        out = match_pattern(
            spark.table("t_ev_inert"), SPEND, order_by="event_id",
            partition_by="user_id", type_col="event_type", pre_partitioned=True,
        )
        nodes = [op for op, _l in _nodes_bottom_up(_plan(out))]
        assert "Exchange" not in nodes and "Filter" in nodes, nodes
        assert sorted(_digest(out.collect(), SPEND.names)) == _replay(SPEND, log)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_inert")


SCHEMA = StructType([
    StructField("event_id", LongType()), StructField("event_type", StringType()),
    StructField("ts", TimestampType()), StructField("tag", StringType()),
])


@pytest.mark.parametrize(
    "kw,stream",
    [
        (dict(type_col=None, query=ONE_TYPE), {}),
        (dict(sql_skip=("to_next", None), query=SIGNUP), {}),
        (dict(within=5, within_col="ts"), {}),
        (dict(within=5, order_by="tag"), {}),
        (dict(), dict(idle_timeout_ms=1000)),
        (dict(), dict(event_time_col="ts")),
    ],
    ids=["no-type-col", "sql-skip", "within-col", "within-string-stamp",
         "idle-timeout", "event-time"],
)
def test_no_filter_where_a_dropped_row_could_matter(spark, kw, stream):
    args = dict(
        query=SPEND, order_by="event_id", type_col="event_type",
        attr_cols=list(SCHEMA.names),
    )
    args.update(kw)
    assert KeyedPlan(**args).inert_filter(SCHEMA, **stream) is None


def test_without_a_type_column_several_declared_types_raise(spark, log_df):
    """Every row would have to be every declared type at once."""
    _log, df = log_df
    with pytest.raises(ValueError, match="declares .*'signup', 'purchase'"):
        KeyedPlan(SPEND, order_by="event_id", type_col=None, attr_cols=COLS[1:])
    src = df.sparkSession.readStream.schema(df.schema).parquet(
        df.inputFiles()[0].rsplit("/", 1)[0]
    )
    for run, frame in ((match_pattern, df), (match_pattern_stream, src)):
        with pytest.raises(ValueError, match="pass the type column"):
            run(frame, SPEND, order_by="event_id", partition_by="user_id", type_col=None)


def test_filter_drops_untyped_rows_and_needs_an_inert_type(spark):
    """The reserved type is inert here, so ``NOT event_type IN (…)``,
    NULL for an untyped row, drops it with no clause of its own."""
    args = dict(order_by="event_id", type_col="event_type", attr_cols=list(SCHEMA.names))
    plan = KeyedPlan(SPEND, **args)
    assert UNTYPED in plan.automaton.inert_types(plan.query.schema.keys())
    keep = plan.inert_filter(SCHEMA)
    assert str(keep) == (
        f"Column<'!(in(event_type, '{UNTYPED}', 'click', 'error', 'view'))'>"
    )
    # under within, a NULL stamp prunes every run it meets: kept too
    keep = KeyedPlan(SPEND, within=40, **args).inert_filter(SCHEMA)
    assert str(keep).endswith(", isNull(event_id))'>")
    strict = SPEND_YAML.replace("contiguity: relaxed", "contiguity: strict")
    assert KeyedPlan(Query.from_yaml(strict), **args).inert_filter(SCHEMA) is None


def test_a_null_stamped_inert_row_still_prunes_runs_on_a_stream():
    """Why the filter keeps NULL-stamped rows under ``within``: such a
    row prunes every run (NaN comparisons are false), and on a stream
    later micro-batches arrive after it.  Without Spark."""
    plan = KeyedPlan(SPEND, order_by="event_id", type_col="event_type",
                     attr_cols=COLS[1:], keys=COLS[:1], within=40, incremental=True)

    def ev(t, stamp):
        return t, {"event_id": stamp, "event_type": t, "value": 10.0}

    first = [ev("signup", 1.0), ev("purchase", 2.0), ev("click", float("nan"))]
    later = [ev("purchase", 3.0), ev("purchase", 4.0)]
    found = []
    for batch in (first, first[:2]):  # with and without the click
        m = KeyMatcher(plan, {"user_id": 1})
        rows = m.feed(batch)
        m, _pending = KeyMatcher.from_blob(plan, {"user_id": 1}, m.to_blob([]))
        found.append(len(rows + m.feed(later)))
    assert found == [0, 2]


def _stream_plan(out) -> str:
    return out._jdf.queryExecution().analyzed().toString()


def test_stream_plan_filters_unless_idle_timeout(spark, log_df):
    _log, df = log_df
    src = spark.readStream.schema(df.schema).parquet(df.inputFiles()[0].rsplit("/", 1)[0])
    kw = dict(order_by="event_id", partition_by="user_id", type_col="event_type")
    assert INERT_IN.search(_stream_plan(match_pattern_stream(src, SPEND, **kw)))
    idle = match_pattern_stream(src, SPEND, idle_timeout_ms=1000, **kw)
    assert not INERT_IN.search(_stream_plan(idle))


def test_stream_with_the_filter_keeps_every_match(spark, log_df, tmp_path):
    """Three micro-batches, one file each, under ``within``: the stream's
    matches equal the unfiltered replay (``match_seq`` numbers by
    completion in both)."""
    log, _df = log_df
    log = log[log["event_id"].notna()].sort_values("event_id")
    rows = [(int(k), int(i), t, v) for k, i, t, v in log.itertuples(index=False)]
    src = tmp_path / "src"
    _write_parts(spark, src, [rows[:120], rows[120:240], rows[240:]], schema=DDL)
    stream = (
        spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/part*")
    )
    out = match_pattern_stream(
        stream, SPEND, order_by="event_id", partition_by="user_id",
        type_col="event_type", within=40,
    )
    assert INERT_IN.search(_stream_plan(out))
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("inert_stream").option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    drain_stream(q)
    got = sorted(_digest(spark.table("inert_stream").collect(), SPEND.names))
    assert got and got == _replay(SPEND, log, within=40)
