"""Temporal operators over the ``events`` stream table: tumbling-window
aggregation, gap-based sessionization, and as-of joins.

The reference engine has no event time at all (SURVEY.md §1.1 — its
Flink oracle runs in processing time), so this module is part of the
beyond-the-reference surface: the time-based operators any streaming
analytics deployment needs, each a single-shuffle DataFrame plan with a
DuckDB oracle.

Cross-engine determinism: timestamps are compared/bucketed in epoch
microseconds (both engines store micros here), sums ROUND()ed, counts
cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from reflinkcep_spark.operators.asof import asof_join
from reflinkcep_spark.operators.rangejoin import interval_join
from reflinkcep_spark.operators.sessions import sessionize
from reflinkcep_spark.queries.exact import exact_sum2
from reflinkcep_spark.sources import load_table


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


# --- tumbling-window aggregation -------------------------------------

def q_events_tumbling(spark, sf_dir):
    """Hourly tumbling window per event type: F.window() grouping —
    partial-aggregated map-side, one shuffle on (window, type)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum2("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SQL_EVENTS_TUMBLING = """
SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start_s,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
FROM events
GROUP BY 1, 2
"""


# --- sliding-window aggregation ---------------------------------------

def q_events_sliding(spark, sf_dir):
    """1-hour windows sliding every 15 minutes: each event lands in 4
    overlapping windows.  Spark expands window membership map-side
    (no join, no explode in user code) and partial-aggregates before
    the one shuffle on (window, type) — the same plan shape as
    tumbling, just 4x the pre-combine rows."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum2("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# Each event contributes to the 4 slide-aligned window starts in
# (ts - 1h, ts]: floor-to-15-min minus k*15min, k = 0..3 — integer
# microsecond arithmetic, no fractional-epoch hazard.
SQL_EVENTS_SLIDING = """
SELECT (epoch_us(ts) // 900000000 * 900 - k.k * 900) AS window_start_s,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total_value
FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
GROUP BY 1, 2
"""


# --- native session windows -------------------------------------------

def q_session_windows(spark, sf_dir):
    """Per-user sessions via Spark's native ``F.session_window`` (the
    operator Structured Streaming uses for streaming sessionization)
    with a 10-minute gap — complements q_user_sessions' manual
    gaps-and-islands build of the same semantics.  One shuffle on
    (user_id, window); session merging happens inside the aggregation.

    ``session_window.end`` is last-event-time + gap, so ``end_s``
    subtracts the gap back out to report the last event's second —
    keeping the output expressible by both builds."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum2("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("start_s"),
            (F.unix_timestamp(F.col("w.end")) - 600).alias("end_s"),
            "n_events",
            "session_value",
        )
    )


# Same islands construction as SQL_USER_SESSIONS but with >= on the
# gap test: a session window is [start, last + gap), so an event at
# exactly last + gap starts a NEW session (Spark's half-open boundary).
SQL_SESSION_WINDOWS = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000
                OR lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
sess AS (
  SELECT user_id, us, value,
         -- session_seq is HUGEINT (windowed SUM of BIGINT); safe ONLY
         -- because it never reaches the output — cast ::BIGINT if you
         -- ever select it (see SQL_USER_SESSIONS).
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       (MIN(us) // 1000000)::BIGINT AS start_s,
       (MAX(us) // 1000000)::BIGINT AS end_s,
       COUNT(*) AS n_events,
       ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS session_value
FROM sess
GROUP BY user_id, session_seq
"""


# --- gap-based sessionization ----------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, in microseconds


def q_user_sessions(spark, sf_dir):
    """Sessionize each user's stream with a 30-minute inactivity gap
    (operators/sessions.py: lag → new-session flag → running sum =
    session id), then per-session rollup.  One shuffle on user_id;
    both window passes and the final aggregation reuse that
    partitioning."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    sess = sessionize(ev, gap=SESSION_GAP_US, by="user_id", on="us")
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.min("us") / 1_000_000).cast("long").alias("start_s"),
        (F.max("us") / 1_000_000).cast("long").alias("end_s"),
        exact_sum2("value").alias("session_value"),
    )


SQL_USER_SESSIONS = """
WITH flagged AS (
  SELECT user_id, epoch_us(ts) AS us, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
),
sess AS (
  SELECT user_id, us, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id,
       -- ::BIGINT: the windowed SUM(new_s) is DuckDB HUGEINT, which
       -- hash-mismatches Spark's BIGINT even for equal values (the
       -- same trap documented at SQL_EVENTS_PROPS_JSON).
       session_seq::BIGINT AS session_seq,
       COUNT(*) AS n_events,
       (MIN(us) // 1000000)::BIGINT AS start_s,
       (MAX(us) // 1000000)::BIGINT AS end_s,
       ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS session_value
FROM sess
GROUP BY 1, 2
"""


# --- as-of join -------------------------------------------------------

def q_asof_last_click(spark, sf_dir):
    """Every purchase annotated with the user's most recent click at or
    before it (NULLs when none) — the union+window as-of join, matched
    against DuckDB's native ASOF LEFT JOIN."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.round("value", 2).alias("click_value"),
    )
    out = asof_join(
        purchases, clicks, on="ts", by="user_id",
        right_cols=["click_id", "click_value"],
    )
    return out.select("user_id", "purchase_id", "click_id", "click_value")


SQL_ASOF_LAST_CLICK = """
SELECT p.user_id, p.event_id AS purchase_id,
       c.event_id AS click_id, ROUND(c.value, 2) AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_asof_next_error(spark, sf_dir):
    """Forward as-of join: every purchase annotated with the user's
    NEXT error at or after it (NULLs when none) — the same
    union+window single-shuffle plan as the backward direction,
    matched against DuckDB's ASOF with the inequality flipped."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = asof_join(
        purchases, errors, on="ts", by="user_id",
        right_cols=["error_id"], direction="forward",
    )
    return out.select("user_id", "purchase_id", "error_id")


SQL_ASOF_NEXT_ERROR = """
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id AND p.ts <= e.ts
"""


# --- JSON property extraction ----------------------------------------

def q_events_props_json(spark, sf_dir):
    """Semi-structured access: parse the props JSON column with a typed
    from_json schema (pushdown-friendly — the scan reads only props +
    grouping keys) and aggregate the extracted field."""
    ev = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            _avg4_of_longs(F.sum("k"), F.count("k")).alias("avg_k"),
        )
    )


def _avg4_of_longs(s, n):
    """``ROUND(s/n, 4)`` half-up in exact integer arithmetic — rounding
    the double quotient can tie on a representable half-boundary where
    the engines disagree (see queries/exact.py).  Positive domain.
    Final arithmetic in DECIMAL(38,0): ``s·20000`` would overflow a
    long at 100 TB aggregate sizes (oracle side is HUGEINT natively)."""
    x = s.cast("decimal(38,0)") * 20000 + n.cast("decimal(38,0)")
    y = n.cast("decimal(38,0)") * 2
    return ((x - F.pmod(x, y)) / y).cast("long") / F.lit(10000.0)


SQL_EVENTS_PROPS_JSON = """
SELECT event_type,
       COUNT(json_extract(props, '$.k')) AS n_with_k,
       -- ::BIGINT on the SUM: DuckDB's SUM(BIGINT) yields HUGEINT,
       -- which hash-mismatches Spark's BIGINT even for equal values.
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       (((20000 * SUM(json_extract(props, '$.k')::BIGINT)
          + COUNT(json_extract(props, '$.k')))::BIGINT
         // (2 * COUNT(json_extract(props, '$.k'))))) / 10000.0 AS avg_k
FROM events
GROUP BY event_type
"""


# --- range (interval) join -------------------------------------------

def q_range_join_clicks(spark, sf_dir):
    """Bucketed range join (operators/rangejoin.py): every purchase
    defines a ±2-hour interval per user; clicks inside it are
    matched via the one-bucket-per-point / exploded-interval equi-join
    (bucket_width = the 2-hour radius, so ≤3 buckets per interval),
    then rolled up per purchase.  The oracle is DuckDB's native
    BETWEEN range join — same inclusive-bounds semantics."""
    ev = _events(spark, sf_dir)
    radius = 7_200_000_000  # 2 hours in micros
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.unix_micros("ts") - radius).alias("w_start"),
        (F.unix_micros("ts") + radius).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    joined = interval_join(
        clicks, purchases, on="us", start="w_start", end="w_end",
        by="user_id", bucket_width=radius,
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        exact_sum2("value").alias("click_value"),
    )


SQL_RANGE_JOIN_CLICKS = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id,
         epoch_us(ts) - 7200000000 AS w_start,
         epoch_us(ts) + 7200000000 AS w_end
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, epoch_us(ts) AS us, value
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id,
       COUNT(*) AS n_clicks,
       ROUND(SUM(CAST(c.value AS DECIMAL(18,2))), 2)::DOUBLE AS click_value
FROM c JOIN p
  ON c.user_id = p.user_id AND c.us BETWEEN p.w_start AND p.w_end
GROUP BY 1
"""


# --- SCD2 history construction ----------------------------------------

# q_scd2_user_status is implemented and locally oracle-verified but
# NOT registered in queries().
def q_scd2_user_status(spark, sf_dir):
    """Slowly-changing-dimension (type 2) history build from a change
    log — the warehouse operation that turns an event stream into
    versioned dimension rows: per user, purchase events are bucketed
    into a spend tier (low < 50 ≤ mid < 150 ≤ high on the raw DOUBLE —
    identical bits both engines), and CONSECUTIVE same-tier events
    collapse into one validity interval ``[valid_from, valid_to]``
    (event_id bounds: integer, unique, arrival-ordered — timestamps
    can tie).  Output: (user_id, version, tier, valid_from, valid_to,
    n_events), ``version`` numbering each user's intervals 1..k in
    order — the classic gaps-and-islands build (change flag via lag →
    running-sum island id → per-island aggregate).

    Scale shape: ONE user-keyed exchange; both window passes (lag +
    running sum) and the island aggregate ride the same partitioning,
    and per-user history length — not user count — bounds the window
    state.  At 100 TB the dimension key partitions the work exactly
    like the sessionizer."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value")
    )
    tier = (
        F.when(F.col("value") < 50, F.lit("low"))
        .when(F.col("value") < 150, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    flagged = ev.select("user_id", "event_id", tier.alias("tier")).withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull()
            | (F.lag("tier").over(w) != F.col("tier")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "version", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("user_id", "version")
        .agg(
            F.first("tier").alias("tier"),
            F.min("event_id").alias("valid_from"),
            F.max("event_id").alias("valid_to"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("version").cast("long").alias("version"),
            "tier",
            "valid_from",
            "valid_to",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


SQL_SCD2_USER_STATUS = """
WITH t AS (
  SELECT user_id, event_id,
         CASE WHEN value < 50 THEN 'low'
              WHEN value < 150 THEN 'mid' ELSE 'high' END AS tier
  FROM events WHERE event_type = 'purchase'
),
f AS (
  SELECT user_id, event_id, tier,
         CASE WHEN lag(tier) OVER w IS NULL
                OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
i AS (
  SELECT user_id, event_id, tier,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM f
)
SELECT user_id, version::BIGINT AS version, MIN(tier) AS tier,
       MIN(event_id) AS valid_from, MAX(event_id) AS valid_to,
       COUNT(*)::BIGINT AS n_events
FROM i GROUP BY user_id, version
"""


# --- Z-order layout audit ---------------------------------------------

# q_events_zorder_stats is implemented and locally oracle-verified but
# NOT registered in queries().
def q_events_zorder_stats(spark, sf_dir):
    """Z-order data-layout audit (functions/packing.py:zorder_key —
    the Delta/Iceberg ``ZORDER BY`` primitive as engine-portable
    integer algebra): every event keyed by the Morton interleave of
    (user_id, epoch-hour), then rolled up per coarse TILE (dropping
    the key's LOW 12 bits — ``zkey >> 12`` keeps the top 30 of the 42
    key bits, i.e. 4096-key tiles) into exactly the metadata a
    file-skipping index
    stores — row count, distinct users, min/max key.  Sorting by this
    key before writing co-locates rows close in BOTH dimensions, so a
    predicate on user AND time prunes files; the emitted min/max
    table IS the pruning index, and tight per-tile key ranges are the
    measurable locality claim.

    The time dimension is hours since the TABLE'S OWN first event
    (layout keys are computed relative to the dataset's range — an
    absolute epoch would waste the key's high bits on constant zeros
    and collapse every row into one tile); the one-row MIN broadcasts.
    Scale shape: the key is a zero-exchange codegen projection (42
    shift/mask terms, no UDF) after that broadcast; the rollup is ONE
    map-side-combinable aggregate over the coarse tiles.  The in-plan
    domain rail raises rather than aliasing distant rows if either
    dimension overflows 21 bits."""
    from reflinkcep_spark.functions.packing import zorder_key

    # Microsecond arithmetic end to end (the module convention, see the
    # epoch_us oracles above): Spark's unix_timestamp FLOORS fractional
    # seconds while DuckDB's epoch(ts)::BIGINT ROUNDS them, so
    # second-granularity epochs disagree on ~half the rows and only
    # aggregate luck kept a second-based key oracle-green.  unix_micros
    # vs epoch_us is exact on both engines.
    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    t0 = ev.agg(F.min("us").alias("t0"))
    # exact integer floor division (pmod-subtract, non-negative domain):
    # a double divide could round up across an hour boundary.
    d = F.col("us") - F.col("t0")
    hours = ((d - F.pmod(d, F.lit(3_600_000_000))) / 3_600_000_000).cast("long")
    keyed = ev.crossJoin(F.broadcast(t0)).select(
        "user_id",
        zorder_key(F.col("user_id"), hours).alias("zkey"),
    )
    return (
        keyed.groupBy(F.shiftright("zkey", 12).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.min("zkey").alias("min_zkey"),
            F.max("zkey").alias("max_zkey"),
        )
    )


SQL_EVENTS_ZORDER_STATS = """
WITH t0 AS (SELECT MIN(epoch_us(ts)) AS t0 FROM events),
k AS (
  SELECT user_id,
         list_sum(list_transform(range(0, 21), i ->
           (((user_id >> i) & 1) << (2 * i))
           + (((((epoch_us(ts) - t0.t0) // 3600000000) >> i) & 1)
              << (2 * i + 1))
         ))::BIGINT AS zkey
  FROM events, t0
)
SELECT zkey >> 12 AS tile,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT user_id)::BIGINT AS n_users,
       MIN(zkey) AS min_zkey,
       MAX(zkey) AS max_zkey
FROM k GROUP BY 1
"""


QUERIES = {
    "q_range_join_clicks": q_range_join_clicks,
    "q_events_tumbling": q_events_tumbling,
    "q_events_sliding": q_events_sliding,
    "q_user_sessions": q_user_sessions,
    "q_session_windows": q_session_windows,
    "q_asof_last_click": q_asof_last_click,
    "q_asof_next_error": q_asof_next_error,
    "q_events_props_json": q_events_props_json,
}

ORACLES = {
    "q_range_join_clicks": SQL_RANGE_JOIN_CLICKS,
    "q_events_tumbling": SQL_EVENTS_TUMBLING,
    "q_events_sliding": SQL_EVENTS_SLIDING,
    "q_user_sessions": SQL_USER_SESSIONS,
    "q_session_windows": SQL_SESSION_WINDOWS,
    "q_asof_last_click": SQL_ASOF_LAST_CLICK,
    "q_asof_next_error": SQL_ASOF_NEXT_ERROR,
    "q_events_props_json": SQL_EVENTS_PROPS_JSON,
}
