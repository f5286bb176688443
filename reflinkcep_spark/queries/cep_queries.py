"""CEP queries over the ``events`` stream table — the reference's
operator surface exercised on the driver testdata (per-user substreams
ordered by ``event_id``; FIXTURES.md §2 maps the reference's
``(type, name, price)`` events onto ``(event_type, value)``).

Every query here carries a DuckDB oracle — including the
iterative-condition and skip-strategy patterns, whose semantics were
re-derived as window/recursive SQL (segment prefix-scans for the
running-sum burst, greedy pairing for SkipPastLastEvent, combinatorial
expansion for nd-relaxed).  Match output is flattened to scalar columns
(capture arrays don't hash stably across engines).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.operators import match_pattern, not_followed_by, not_next
from reflinkcep_spark.sources import load_table

EVENT_SCHEMA = {"signup": [], "purchase": [], "error": [], "click": [], "view": []}


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )


def _run(spark, sf_dir, qyaml: str, **kw):
    return match_pattern(
        _events(spark, sf_dir),
        Query.from_yaml(qyaml),
        order_by="event_id",
        partition_by="user_id",
        **kw,
    )


def _cap(name: str, i: int = 1):
    return F.element_at(F.col(name), i)


# --- spat: high-value purchases (fast path → pure filter) ------------

def cep_high_purchases(spark, sf_dir):
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: spat
  name: buy
  event: purchase
  cndt: {expr: value > 100}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("buy")["event_id"].alias("event_id"),
        F.round(_cap("buy")["value"], 2).alias("value"),
    )


SQL_HIGH_PURCHASES = """
SELECT user_id, event_id, ROUND(value, 2) AS value
FROM events WHERE event_type = 'purchase' AND value > 100
"""


# --- strict sequence: purchase immediately followed by error ---------

def cep_purchase_then_error(spark, sf_dir):
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: strict
  left:
    type: spat
    name: buy
    event: purchase
    cndt: {expr: value > 50}
  right:
    type: spat
    name: err
    event: error
    cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("buy")["event_id"].alias("purchase_id"),
        _cap("err")["event_id"].alias("error_id"),
    )


SQL_PURCHASE_THEN_ERROR = """
WITH s AS (
  SELECT user_id, event_id, event_type, value,
         LEAD(event_type) OVER w AS next_type,
         LEAD(event_id) OVER w AS next_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS purchase_id, next_id AS error_id
FROM s WHERE event_type = 'purchase' AND value > 50 AND next_type = 'error'
"""


# --- strict bounded loop: three consecutive errors -------------------

def cep_error_triples(spark, sf_dir):
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: lpat
  name: errs
  event: error
  cndt: {expr: "True"}
  loop: {contiguity: strict, from: 3, to: 3}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("errs", 1)["event_id"].alias("e1"),
        _cap("errs", 2)["event_id"].alias("e2"),
        _cap("errs", 3)["event_id"].alias("e3"),
    )


SQL_ERROR_TRIPLES = """
WITH s AS (
  SELECT user_id, event_id, event_type,
         LEAD(event_type, 1) OVER w AS t1, LEAD(event_id, 1) OVER w AS id1,
         LEAD(event_type, 2) OVER w AS t2, LEAD(event_id, 2) OVER w AS id2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS e1, id1 AS e2, id2 AS e3
FROM s WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
"""


# --- relaxed sequence: signup followed by first qualifying purchase --

def cep_signup_to_purchase(spark, sf_dir):
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: reg
    event: signup
    cndt: {expr: "True"}
  right:
    type: spat
    name: buy
    event: purchase
    cndt: {expr: value > 50}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        # Planner dispatch: this relaxed spat-pair qualifies for the
        # first-blocking-event window fast path — pure Catalyst, no
        # Python.  The NFA kernel path for the same shape is pinned by
        # tests/test_fastpath.py equivalence.
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
    )


SQL_SIGNUP_TO_PURCHASE = """
SELECT s.user_id, s.event_id AS signup_id, MIN(p.event_id) AS purchase_id
FROM events s
JOIN events p ON p.user_id = s.user_id AND p.event_id > s.event_id
            AND p.event_type = 'purchase' AND p.value > 50
WHERE s.event_type = 'signup'
GROUP BY s.user_id, s.event_id
"""


# --- quantified group pattern: (view · click) × 2 --------------------

def cep_view_click_cycles(spark, sf_dir):
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: gpat-times
  child:
    type: combine
    contiguity: strict
    left:
      type: spat
      name: v
      event: view
      cndt: {expr: "True"}
    right:
      type: spat
      name: c
      event: click
      cndt: {expr: "True"}
  loop: {from: 2, to: 2}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("v", 1)["event_id"].alias("v1"),
        _cap("c", 1)["event_id"].alias("c1"),
        _cap("v", 2)["event_id"].alias("v2"),
        _cap("c", 2)["event_id"].alias("c2"),
    )


SQL_VIEW_CLICK_CYCLES = """
WITH s AS (
  SELECT user_id, event_id, event_type,
         LEAD(event_type, 1) OVER w AS t1, LEAD(event_id, 1) OVER w AS id1,
         LEAD(event_type, 2) OVER w AS t2, LEAD(event_id, 2) OVER w AS id2,
         LEAD(event_type, 3) OVER w AS t3, LEAD(event_id, 3) OVER w AS id3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS v1, id1 AS c1, id2 AS v2, id3 AS c2
FROM s WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'view' AND t3 = 'click'
"""


# --- iterative condition + until: spending bursts --------------------

SPENDING_BURST_YAML = """
type: query
patseq:
  type: lpat-inf
  name: run
  event: purchase
  cndt: {expr: S + value <= 300}
  variables:
    S: {update: S + value, initial: 0}
  loop: {contiguity: strict, from: 2}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""


def spending_burst_project(out):
    return out.select(
        "user_id",
        F.col("start_ord").alias("first_id"),
        F.col("end_ord").alias("last_id"),
        F.size("run").cast("long").alias("n_purchases"),
        F.round(
            F.aggregate("run", F.lit(0.0), lambda a, e: a + e["value"]), 2
        ).alias("total_value"),
    )


def cep_spending_burst(spark, sf_dir):
    """Runs of ≥2 consecutive purchases whose cumulative value stays
    under 300 (iterative data variable + until).  Oracle: the strict
    contiguity makes the running sum a prefix-scan per segment, so a
    recursive-free window SQL spelling exists (SQL_SPENDING_BURST,
    hash-green since r2)."""
    out = _run(spark, sf_dir, SPENDING_BURST_YAML, allow_fastpath=False)
    return spending_burst_project(out)


SQL_SPENDING_BURST = """
WITH q AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, event_id, value,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM q WHERE event_type = 'purchase'
),
isl AS (
  SELECT user_id, grp, COUNT(*) AS m,
         LIST(event_id ORDER BY event_id) AS ids,
         LIST(value ORDER BY event_id) AS vals
  FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nums AS (SELECT UNNEST(generate_series(1, (SELECT MAX(m) FROM isl))) AS g)
-- Engine semantics (probed): every (start, len>=2) sub-run of a
-- consecutive-purchase island whose LEFT-FOLD sum stays <= 300.  All
-- purchase values are positive, so the per-step prefix condition
-- S + value <= 300 is equivalent to the total; list_reduce is a left
-- fold, bitwise-identical to the kernel's Python accumulation and to
-- Spark's F.aggregate.
SELECT i.user_id,
       i.ids[s.g] AS first_id,
       i.ids[s.g + l.g - 1] AS last_id,
       l.g::BIGINT AS n_purchases,
       ROUND(list_reduce(i.vals[s.g : s.g + l.g - 1], (a, b) -> a + b), 2)
         AS total_value
FROM isl i
JOIN nums s ON s.g <= i.m - 1
JOIN nums l ON l.g >= 2 AND l.g <= i.m - s.g + 1
WHERE list_reduce(i.vals[s.g : s.g + l.g - 1], (a, b) -> a + b) <= 300
"""


# --- after-match skip strategy: error streaks ------------------------

def cep_error_streaks_skip(spark, sf_dir):
    """Error streaks closed by a purchase under SkipToNext: per start
    offset only the first-emitted (= longest, to island end) run
    survives — reference executor.py:70-83 skip semantics."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: lpat-inf
    name: errs
    event: error
    cndt: {expr: "True"}
    loop: {contiguity: strict, from: 2}
  right:
    type: spat
    name: ok
    event: purchase
    cndt: {expr: "True"}
context:
  strategy: SkipToNext
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("first_id"),
        F.col("end_ord").alias("last_id"),
        F.size("errs").cast("long").alias("n_errors"),
    )


SQL_ERROR_STREAKS_SKIP = """
WITH nb AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         MIN(CASE WHEN event_type = 'purchase' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy
  FROM events
),
e AS (
  SELECT user_id, event_id, next_buy,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM nb WHERE event_type = 'error'
),
isl AS (
  SELECT user_id, grp, COUNT(*) AS m,
         LIST(event_id ORDER BY event_id) AS ids,
         LIST(next_buy ORDER BY event_id) AS nbs
  FROM e GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nums AS (SELECT UNNEST(generate_series(1, (SELECT MAX(m) FROM isl))) AS g)
-- Engine semantics (probed): the strict >=2 error loop is greedy to
-- the island end; the relaxed-followed purchase is the first one after
-- the island; SkipToNext keeps exactly one match per start offset (the
-- longest, emitted first).  So each island of m errors yields starts
-- s = 1..m-1, each running to the island end.
SELECT i.user_id,
       i.ids[s.g] AS first_id,
       i.nbs[i.m] AS last_id,
       (i.m - s.g + 1)::BIGINT AS n_errors
FROM isl i
JOIN nums s ON s.g <= i.m - 1
WHERE i.nbs[i.m] IS NOT NULL
"""


# --- nd-relaxed + until: view combinations in calm windows -----------

def cep_view_combos_ndrelaxed(spark, sf_dir):
    """All 3-view combinations inside a window where every event's value
    stays < 15 (nd-relaxed contiguity emits every combination; the
    ``until`` conjunct bounds the otherwise-exponential run set —
    SURVEY.md §2.1 contiguity table, §2.3 until semantics)."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: lpat-inf
  name: vs
  event: view
  cndt: {expr: value < 15}
  loop: {contiguity: nd-relaxed, from: 3}
  until: {expr: value >= 15}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("first_id"),
        F.col("end_ord").alias("last_id"),
        F.size("vs").cast("long").alias("n_views"),
    )


SQL_VIEW_COMBOS_NDRELAXED = """
WITH seg AS (
  SELECT user_id, event_id, event_type, value,
         SUM(CASE WHEN value >= 15 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING) AS s
  FROM events
),
v AS (
  SELECT user_id, s, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, s ORDER BY event_id) AS idx
  FROM seg WHERE event_type = 'view' AND value < 15
),
pairs AS (
  SELECT a.user_id, a.event_id AS first_id, b.event_id AS last_id,
         (b.idx - a.idx - 1)::BIGINT AS j
  FROM v a
  JOIN v b ON b.user_id = a.user_id AND b.s = a.s AND b.idx >= a.idx + 2
),
-- Engine semantics (probed): nd-relaxed emits EVERY subsequence of
-- length >= 3 of the calm-window views; the until barrier (any event
-- with value >= 15) kills runs, so first/last must share a segment.
-- A match keeps only (first, last, n), so choosing k interior views
-- out of the j available multiplies the row by C(j, k).
sizes AS (
  SELECT p.user_id, p.first_id, p.last_id, k.g AS k,
         (factorial(p.j::INTEGER)
            // (factorial(k.g::INTEGER) * factorial((p.j - k.g)::INTEGER)))::BIGINT
           AS mult
  FROM pairs p
  JOIN (SELECT UNNEST(generate_series(1, (SELECT COALESCE(MAX(j), 0) FROM pairs))) AS g) k
    ON k.g <= p.j
)
SELECT s.user_id, s.first_id, s.last_id, (s.k + 2)::BIGINT AS n_views
FROM sizes s
JOIN (SELECT UNNEST(generate_series(1, (SELECT COALESCE(MAX(mult), 0) FROM sizes))) AS g) r
  ON r.g <= s.mult
"""


# --- optional sub-pattern: purchase with optional preceding click ----

def cep_optional_click_prefix(spark, sf_dir):
    """Big purchases with an optional click directly before them —
    from=0 loop makes the capture optional; empty captures surface as
    NULL columns (reference omitted-key rule, DST.py:302-311)."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: strict
  left:
    type: lpat
    name: c
    event: click
    cndt: {expr: "True"}
    loop: {contiguity: strict, from: 0, to: 1}
  right:
    type: spat
    name: p
    event: purchase
    cndt: {expr: value > 150}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        _cap("p")["event_id"].alias("purchase_id"),
        F.when(F.col("c").isNotNull(), _cap("c")["event_id"]).alias("click_id"),
    )


SQL_OPTIONAL_CLICK_PREFIX = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, value,
         lag(event_type) OVER w AS prev_type,
         lag(event_id) OVER w AS prev_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS purchase_id, NULL::BIGINT AS click_id
FROM ordered WHERE event_type = 'purchase' AND value > 150
UNION ALL
SELECT user_id, event_id, prev_id
FROM ordered
WHERE event_type = 'purchase' AND value > 150 AND prev_type = 'click'
"""


# --- gpat-inf: repeated view→click units until an error --------------

def cep_view_click_runs(spark, sf_dir):
    """One-or-more (view then click) units, stopped by any error —
    unbounded group quantifier with until (gpat-inf,
    reference compile.py:529-585)."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: gpat-inf
  child:
    type: combine
    contiguity: relaxed
    left:
      type: spat
      name: v
      event: view
      cndt: {expr: "True"}
    right:
      type: spat
      name: c
      event: click
      cndt: {expr: "True"}
  loop: {from: 1}
  until: {expr: "value > 40"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("first_id"),
        F.col("end_ord").alias("last_id"),
        F.size("v").cast("long").alias("n_units"),
    )


SQL_VIEW_CLICK_RUNS = """
WITH RECURSIVE seg AS (
  SELECT user_id, event_id, event_type, value,
         SUM(CASE WHEN value > 40 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING) AS s
  FROM events
),
w AS (
  SELECT user_id, s, event_id, event_type, value,
         MIN(CASE WHEN event_type = 'click' THEN event_id END)
           OVER (PARTITION BY user_id, s ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click,
         LEAD(event_id)
           OVER (PARTITION BY user_id ORDER BY event_id) AS succ_id
  FROM seg
),
-- Engine semantics (probed): within a unit the relaxed combine takes
-- the FIRST click after the view; BETWEEN iterations the loop is
-- strict — the next unit's view must be the event immediately after
-- the previous click.  A match is emitted at every completed unit;
-- any event with value > 40 (the until barrier) kills active runs and
-- cannot start or join one, so the whole chain lives in one segment.
rec AS (
  SELECT user_id, s, event_id AS first_id, next_click AS last_id, 1 AS n
  FROM w
  WHERE event_type = 'view' AND value <= 40 AND next_click IS NOT NULL
  UNION ALL
  SELECT r.user_id, r.s, r.first_id, wv.next_click, r.n + 1
  FROM rec r
  JOIN w wc ON wc.user_id = r.user_id AND wc.s = r.s
           AND wc.event_id = r.last_id
  JOIN w wv ON wv.user_id = r.user_id AND wv.s = r.s
           AND wv.event_id = wc.succ_id AND wv.event_type = 'view'
  WHERE wv.next_click IS NOT NULL
)
SELECT user_id, first_id, last_id, n::BIGINT AS n_units FROM rec
"""


# --- 3-step relaxed funnel: signup → purchase → error ----------------

def cep_funnel_3step(spark, sf_dir):
    """Signup, then FIRST qualifying purchase after it, then FIRST
    error after that purchase — a left-assoc relaxed spat chain
    (reference compile.py:414-453 ignore-edge semantics).  Dispatches
    to the first-blocking-event window fast path
    (operators/fastpath.py `_plan_chain`): L-1 window passes
    over one per-user sort, no join, no Python."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: combine
    contiguity: relaxed
    left:
      type: spat
      name: reg
      event: signup
      cndt: {expr: "True"}
    right:
      type: spat
      name: buy
      event: purchase
      cndt: {expr: value > 50}
  right:
    type: spat
    name: err
    event: error
    cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
        _cap("err")["event_id"].alias("error_id"),
    )


SQL_FUNNEL_3STEP = """
WITH nb AS (
  SELECT user_id, event_id, event_type,
         MIN(CASE WHEN event_type = 'purchase' AND value > 50 THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy,
         MIN(CASE WHEN event_type = 'error' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
  FROM events
)
SELECT s.user_id, s.event_id AS signup_id, s.next_buy AS purchase_id,
       b.next_err AS error_id
FROM nb s
JOIN nb b ON b.user_id = s.user_id AND b.event_id = s.next_buy
WHERE s.event_type = 'signup' AND b.next_err IS NOT NULL
"""


# --- within-bounded funnel: Flink CEP's within(), beyond the reference

FUNNEL_YAML = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: combine
    contiguity: relaxed
    left:
      type: spat
      name: reg
      event: signup
      cndt: {expr: "True"}
    right:
      type: spat
      name: buy
      event: purchase
      cndt: {expr: value > 50}
  right:
    type: spat
    name: err
    event: error
    cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
"""


def cep_funnel_within(spark, sf_dir):
    """The 3-step funnel bounded to complete WITHIN 100 event ids of
    its first event — Flink CEP's ``within()``, which the reference
    lacks (it has no notion of time/span at all).  Besides restricting
    matches, ``within`` is the state bound that keeps relaxed-pattern
    run-sets from growing without limit on hot keys.  Under NoSkip the
    fast-path plan stays eligible (span bound applied as an
    emission-equivalent filter); the kernel enforces the same bound by
    pruning expired runs, and the test suite pins both paths equal."""
    out = _run(spark, sf_dir, FUNNEL_YAML, within=100)
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
        _cap("err")["event_id"].alias("error_id"),
    )


SQL_FUNNEL_WITHIN = """
WITH nb AS (
  SELECT user_id, event_id, event_type,
         MIN(CASE WHEN event_type = 'purchase' AND value > 50 THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy,
         MIN(CASE WHEN event_type = 'error' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
  FROM events
)
SELECT s.user_id, s.event_id AS signup_id, s.next_buy AS purchase_id,
       b.next_err AS error_id
FROM nb s
JOIN nb b ON b.user_id = s.user_id AND b.event_id = s.next_buy
WHERE s.event_type = 'signup' AND b.next_err IS NOT NULL
  AND b.next_err - s.event_id <= 100
"""


# cep_funnel_within_time is implemented and locally oracle-verified but
# NOT registered in queries().
def cep_funnel_within_time(spark, sf_dir):
    """The 3-step funnel bounded to complete within 48 HOURS of its
    first event — the TIME-based ``within()`` (Flink's actual
    semantics: ``Pattern.within(Time.hours(48))``), where
    cep_funnel_within bounds the span in order-column units.  The
    stamp is a separate column (``unix_micros(ts)``, exact integer
    microseconds on both engines) threaded through ``within_col``;
    the kernel prunes expired runs on event TIME while the order
    column stays the unique sequence number — the batch operator and
    the streaming twin now share one ``within`` semantics.  The fast
    path is bypassed by construction (its span post-filter sees only
    order values), so this row also keeps a driver-checked kernel
    execution of the relaxed 3-step chain.

    Scale shape: identical to every kernel CEP row — ONE exchange on
    the match key, Arrow-batched MapInPandas over each key-sorted
    partition, state bounded per key by the live run-set (within pruning is itself the state
    bound on hot keys)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    out = match_pattern(
        ev,
        Query.from_yaml(FUNNEL_YAML),
        order_by="event_id",
        partition_by="user_id",
        within=48 * 3600 * 1_000_000,
        within_col="ts_us",
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
        _cap("err")["event_id"].alias("error_id"),
    )


SQL_FUNNEL_WITHIN_TIME = """
WITH nb AS (
  SELECT user_id, event_id, ts, event_type,
         MIN(CASE WHEN event_type = 'purchase' AND value > 50 THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy,
         MIN(CASE WHEN event_type = 'error' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
  FROM events
)
SELECT s.user_id, s.event_id AS signup_id, s.next_buy AS purchase_id,
       b.next_err AS error_id
FROM nb s
JOIN nb b ON b.user_id = s.user_id AND b.event_id = s.next_buy
JOIN nb e ON e.user_id = s.user_id AND e.event_id = b.next_err
WHERE s.event_type = 'signup' AND b.next_err IS NOT NULL
  AND epoch_us(e.ts) - epoch_us(s.ts) <= 48::BIGINT * 3600 * 1000000
"""


# --- MATCH_RECOGNIZE: the SQL:2016 row-pattern front end --------------

# cep_sql_error_runs / cep_sql_funnel are implemented and locally
# oracle-verified but NOT registered in queries().
def cep_sql_error_runs(spark, sf_dir):
    """MAXIMAL consecutive error runs per user via the SQL
    ``MATCH_RECOGNIZE`` front end (cep/match_recognize.py): greedy
    ``E+`` under ``AFTER MATCH SKIP PAST LAST ROW`` — SQL:2016 match
    selection (one longest match per start row, non-overlapping),
    which no Flink-CEP-style skip strategy emits (their skip acts on
    COMPLETION order: first-completing ≈ reluctant; cep_error_runs'
    NoSkip lpat-inf emits every sub-run instead).  The oracle is the
    gaps-and-islands idiom over the user's row sequence.

    Scale shape: identical to every kernel CEP row — ONE exchange on
    the match key into Arrow-batched mapInPandas; SQL selection is a
    per-key post-pass over that key's matches, no extra exchange."""
    from reflinkcep_spark.cep.match_recognize import match_recognize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    return match_recognize(
        ev,
        """MATCH_RECOGNIZE (
             PARTITION BY user_id
             ORDER BY event_id
             MEASURES FIRST(E.event_id) AS first_error,
                      LAST(E.event_id) AS last_error,
                      COUNT(E.*) AS n_errors
             AFTER MATCH SKIP PAST LAST ROW
             PATTERN (E+)
             DEFINE E AS E.event_type = 'error'
           )""",
    )


SQL_CEP_SQL_ERROR_RUNS = """
WITH seq AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
err AS (
  SELECT user_id, event_id, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS island
  FROM seq WHERE event_type = 'error'
),
runs AS (
  SELECT user_id, MIN(event_id) AS first_error, MAX(event_id) AS last_error,
         COUNT(*) AS n_errors
  FROM err GROUP BY user_id, island
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY first_error) - 1
         AS match_seq,
       first_error, last_error, n_errors
FROM runs
"""


def cep_sql_funnel(spark, sf_dir):
    """Signup → first high-value purchase via ``MATCH_RECOGNIZE`` with
    an undefined FILLER variable: ``PATTERN (S G*? P)`` — SQL row
    patterns consume CONTIGUOUS rows, so the gap-tolerant funnel is
    spelled with a reluctant match-anything ``G*?`` (the idiom every
    SQL reference teaches), and ``AFTER MATCH SKIP TO NEXT ROW`` emits
    one match per signup (overlaps allowed).  ``COUNT(G.*)`` measures
    the gap length — a value only the row-consuming SQL semantics can
    report (the Flink-style relaxed combine skips rows without
    counting them)."""
    from reflinkcep_spark.cep.match_recognize import match_recognize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    return match_recognize(ev, MR_FUNNEL_SPEC)


# shared by the batch driver query above and the streaming twin
# (__spark_entry__.cep_sql_funnel_stream) so the two surfaces cannot
# drift apart — (reluctant, SKIP TO NEXT ROW) is exactly the
# finalization-free combination the streaming kernel's SQL selection
# supports.
MR_FUNNEL_SPEC = """MATCH_RECOGNIZE (
     PARTITION BY user_id
     ORDER BY event_id
     MEASURES S.event_id AS signup_id,
              P.event_id AS purchase_id,
              COUNT(G.*) AS gap_len
     AFTER MATCH SKIP TO NEXT ROW
     PATTERN (S G*? P)
     DEFINE S AS S.event_type = 'signup',
            P AS P.event_type = 'purchase' AND P.value > 50
   )"""


SQL_CEP_SQL_FUNNEL = """
WITH seq AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
nb AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND value > 50 THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p_rn
  FROM seq
)
SELECT s.user_id,
       row_number() OVER (PARTITION BY s.user_id ORDER BY s.rn) - 1
         AS match_seq,
       s.event_id AS signup_id,
       p.event_id AS purchase_id,
       (s.next_p_rn - s.rn - 1) AS gap_len
FROM nb s
JOIN nb p ON p.user_id = s.user_id AND p.rn = s.next_p_rn
WHERE s.event_type = 'signup'
"""


def cep_sql_prev_ascent(spark, sf_dir):
    """Maximal ascending-value runs per user via MATCH_RECOGNIZE
    DEFINE navigation (round 14): ``B AS PREV(value) < B.value`` — the
    canonical SQL:2016 stock-ascent shape (Flink SQL's first
    MATCH_RECOGNIZE example) that needs PHYSICAL row navigation: the
    first B row compares against A's row through PREV, which reads the
    PARTITION's previous row regardless of variable mapping
    (cep/match_recognize.py:_Nav).  Greedy ``B+`` + SKIP PAST LAST ROW
    selects one maximal non-overlapping run per eligible start.

    Scale shape: the lag column rides the kernel's key partitioning —
    Exchange → Sort → Window → MapInPandas, ONE exchange
    total (plan-asserted in tests/test_match_recognize.py); the oracle
    is the LAG + gaps-and-islands idiom."""
    from reflinkcep_spark.cep.match_recognize import match_recognize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return match_recognize(
        ev,
        """MATCH_RECOGNIZE (
             PARTITION BY user_id
             ORDER BY event_id
             MEASURES A.event_id AS start_id,
                      LAST(B.event_id) AS end_id,
                      A.value AS start_value,
                      LAST(B.value) AS end_value,
                      COUNT(B.*) AS n_up
             AFTER MATCH SKIP PAST LAST ROW
             PATTERN (A B+)
             DEFINE B AS PREV(value) < B.value
           )""",
    )


SQL_CEP_SQL_PREV_ASCENT = """
WITH seq AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS pid,
         lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv
  FROM events
),
ascending AS (  -- rows that ascend from their physical predecessor
  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
              AS island
  FROM seq WHERE pv IS NOT NULL AND value > pv
),
runs AS (  -- one maximal chain per island; A is the row BEFORE it
  SELECT user_id,
         arg_min(pid, rn) AS start_id,
         max(event_id)    AS end_id,
         arg_min(pv, rn)  AS start_value,
         arg_max(value, rn) AS end_value,
         count(*)         AS n_up
  FROM ascending GROUP BY user_id, island
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY start_id) - 1
         AS match_seq,
       start_id, end_id, start_value, end_value, n_up
FROM runs
"""


# --- strict lpat-inf: all runs of consecutive errors -----------------

def cep_error_runs(spark, sf_dir):
    """Every sub-run of >= 2 consecutive error events per user (strict
    unbounded loop, NoSkip — reference compile.py:208-372).  Dispatches
    to the gaps-and-islands fast path (operators/fastpath.py
    `_plan_strict_loop`): one sort + one island aggregation, no
    Python."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: lpat-inf
  name: errs
  event: error
  cndt: {expr: "True"}
  loop: {contiguity: strict, from: 2}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("start_id"),
        F.col("end_ord").alias("end_id"),
        F.size("errs").cast("long").alias("run_len"),
    )


SQL_ERROR_RUNS = """
WITH q AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
e AS (
  SELECT user_id, event_id,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM q WHERE event_type = 'error'
),
isl AS (
  SELECT user_id, grp, COUNT(*) AS m,
         LIST(event_id ORDER BY event_id) AS ids
  FROM e GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nums AS (
  SELECT UNNEST(generate_series(1, (SELECT MAX(m) FROM isl))) AS g
)
SELECT i.user_id,
       i.ids[s.g] AS start_id,
       i.ids[s.g + l.g - 1] AS end_id,
       l.g AS run_len
FROM isl i
JOIN nums s ON s.g <= i.m - 1
JOIN nums l ON l.g >= 2 AND l.g <= i.m - s.g + 1
"""


# --- SkipPastLastEvent: non-overlapping error pairs ------------------

def cep_error_pairs_skippast(spark, sf_dir):
    """Greedy non-overlapping error pairs: a strict >=2 loop under
    SkipPastLastEvent accepts as soon as two errors are consumed, then
    kills every live run (reference executor.py:84-87), so each error
    island tiles into floor(m/2) disjoint pairs."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: lpat-inf
  name: errs
  event: error
  cndt: {expr: "True"}
  loop: {contiguity: strict, from: 2}
context:
  strategy: SkipPastLastEvent
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("e1"),
        F.col("end_ord").alias("e2"),
    )


SQL_ERROR_PAIRS_SKIPPAST = """
WITH q AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
),
e AS (
  SELECT user_id, event_id,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM q WHERE event_type = 'error'
),
isl AS (
  SELECT user_id, grp, COUNT(*) AS m, LIST(event_id ORDER BY event_id) AS ids
  FROM e GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nums AS (SELECT UNNEST(generate_series(1, (SELECT MAX(m) // 2 FROM isl))) AS g)
SELECT i.user_id, i.ids[2 * t.g - 1] AS e1, i.ids[2 * t.g] AS e2
FROM isl i JOIN nums t ON 2 * t.g <= i.m
"""


# --- relaxed-contiguity bounded loop: high-purchase chains -----------

def cep_high_purchase_chains(spark, sf_dir):
    """Chains of 2-3 CONSECUTIVE qualifying purchases in the filtered
    substream: a relaxed loop ignores non-matching events but must take
    each next matching one (reference compile.py:131-181), so every
    window of 2 and 3 adjacent high purchases matches once."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: lpat
  name: buys
  event: purchase
  cndt: {expr: value > 100}
  loop: {contiguity: relaxed, from: 2, to: 3}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        _cap("buys", 1)["event_id"].alias("b1"),
        _cap("buys", 2)["event_id"].alias("b2"),
        # try_element_at: the capture has 2 or 3 events; index 3 must
        # yield NULL for the short form, not an ANSI error.
        F.try_element_at(F.col("buys"), F.lit(3))["event_id"].alias("b3"),
    )


SQL_HIGH_PURCHASE_CHAINS = """
WITH hp AS (
  SELECT user_id, event_id,
         LEAD(event_id, 1) OVER w AS n1,
         LEAD(event_id, 2) OVER w AS n2
  FROM events WHERE event_type = 'purchase' AND value > 100
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS b1, n1 AS b2, NULL::BIGINT AS b3
FROM hp WHERE n1 IS NOT NULL
UNION ALL
SELECT user_id, event_id AS b1, n1 AS b2, n2 AS b3
FROM hp WHERE n2 IS NOT NULL
"""


# --- nd-relaxed combine: signup to EVERY later big purchase ----------

def cep_signup_any_purchase(spark, sf_dir):
    """followedByAny: nd-relaxed contiguity keeps ignoring past
    matching events too, so each signup pairs with EVERY later
    qualifying purchase, not just the first (reference
    compile.py:414-475 nd-relaxed ignore-edge)."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: nd-relaxed
  left:
    type: spat
    name: reg
    event: signup
    cndt: {expr: "True"}
  right:
    type: spat
    name: buy
    event: purchase
    cndt: {expr: value > 150}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
    )


SQL_SIGNUP_ANY_PURCHASE = """
SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id
FROM events s
JOIN events p ON p.user_id = s.user_id AND p.event_id > s.event_id
             AND p.event_type = 'purchase' AND p.value > 150
WHERE s.event_type = 'signup'
"""


# --- head gpat: grouped strict error→purchase pair -------------------

def cep_error_then_purchase_grouped(spark, sf_dir):
    """A head-position group pattern wrapping a strict (error, purchase)
    pair — gpat at the head compiles to its child fragment (reference
    compile.py:477-479); semantics must be identical to the bare
    combine."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: gpat
  child:
    type: combine
    contiguity: strict
    left:
      type: spat
      name: e
      event: error
      cndt: {expr: "True"}
    right:
      type: spat
      name: p
      event: purchase
      cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("e")["event_id"].alias("error_id"),
        _cap("p")["event_id"].alias("purchase_id"),
    )


SQL_ERROR_THEN_PURCHASE_GROUPED = """
WITH s AS (
  SELECT user_id, event_id, event_type,
         LEAD(event_type) OVER w AS next_type,
         LEAD(event_id) OVER w AS next_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id AS error_id, next_id AS purchase_id
FROM s WHERE event_type = 'error' AND next_type = 'purchase'
"""


def cep_signup_abandoned(spark, sf_dir):
    """Absence pattern — Flink CEP's ``notFollowedBy``, which the
    reference grammar lacks entirely: signups with NO purchase by the
    same user within 30 minutes after the signup.  One union + one
    ordered window pass per user (operators/absence.py); the oracle is
    the NOT EXISTS anti-join formulation DuckDB can afford at sf0.01."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    signups = base.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), "us"
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "us"
    )
    out = not_followed_by(
        signups, purchases, on="us", by="user_id", within=30 * 60 * 1_000_000
    )
    return out.select("user_id", "signup_id")


SQL_SIGNUP_ABANDONED = """
SELECT s.user_id, s.event_id AS signup_id
FROM events s
WHERE s.event_type = 'signup'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
      AND epoch_us(p.ts) > epoch_us(s.ts)
      AND epoch_us(p.ts) <= epoch_us(s.ts) + 1800000000)
"""


# --- parameterized skip: SkipToLast keeps island + last-error suffix --

def cep_error_runs_skiptolast(spark, sf_dir):
    """Error runs closed by the next purchase under Flink-style
    ``SkipToLast:errs`` (beyond the reference's three strategies,
    cep/runtime.py): emitting the greedy island match prunes every
    run starting before its LAST error, so each error island yields
    exactly the whole-island match plus the single-last-error suffix
    (one match when the island has one error) — semantics traced in
    tests/test_skip_to.py and reduced to a gaps-and-islands oracle."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: lpat-inf
    name: errs
    event: error
    cndt: {expr: "True"}
    loop: {contiguity: strict, from: 1}
  right:
    type: spat
    name: ok
    event: purchase
    cndt: {expr: "True"}
context:
  strategy: "SkipToLast:errs"
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        F.col("start_ord").alias("first_err_id"),
        F.size("errs").cast("long").alias("n_errors"),
        _cap("ok")["event_id"].alias("buy_id"),
    )


SQL_ERROR_RUNS_SKIPTOLAST = """
WITH nb AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
         MIN(CASE WHEN event_type = 'purchase' THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy
  FROM events
),
e AS (
  SELECT user_id, event_id, next_buy,
         rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
  FROM nb WHERE event_type = 'error'
),
isl AS (
  -- next_buy is identical across an island (no events between its
  -- errors), so MIN = the first purchase after the island's end.
  SELECT user_id, grp, COUNT(*) AS m,
         MIN(event_id) AS first_id, MAX(event_id) AS last_id,
         MIN(next_buy) AS buy
  FROM e GROUP BY 1, 2
)
-- SkipToLast:errs (engine trace, tests/test_skip_to.py): the greedy
-- whole-island match emits first and prunes every run starting before
-- the island's last error, leaving only the last-error suffix run.
SELECT user_id, first_id AS first_err_id, m::BIGINT AS n_errors, buy AS buy_id
FROM isl WHERE buy IS NOT NULL
UNION ALL
SELECT user_id, last_id AS first_err_id, 1::BIGINT AS n_errors, buy AS buy_id
FROM isl WHERE buy IS NOT NULL AND m > 1
"""


# --- parameterized skip: SkipToFirst keeps one pair per gap ----------

def cep_signup_purchase_skipfirst(spark, sf_dir):
    """Signup followed (relaxed) by a purchase under Flink-style
    ``SkipToFirst:buy``: emitting the oldest pending signup's match
    prunes every run that started before the purchase itself, so each
    purchase pairs with the EARLIEST signup since the immediately
    previous purchase (or nothing).  Engine-traced in
    tests/test_skip_to.py; the oracle states the reduced rule
    directly as a lag-window join."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: reg
    event: signup
    cndt: {expr: "True"}
  right:
    type: spat
    name: buy
    event: purchase
    cndt: {expr: "True"}
context:
  strategy: "SkipToFirst:buy"
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
        allow_fastpath=False,
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
    )


SQL_SIGNUP_PURCHASE_SKIPFIRST = """
WITH p AS (
  SELECT user_id, event_id,
         LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_p
  FROM events WHERE event_type = 'purchase'
),
s AS (
  SELECT user_id, event_id AS sid FROM events WHERE event_type = 'signup'
)
-- SkipToFirst:buy reduction (engine trace, tests/test_skip_to.py):
-- every purchase pairs with the earliest signup since the previous
-- purchase; purchases with no such signup emit nothing.
SELECT p.user_id, MIN(s.sid) AS signup_id, p.event_id AS purchase_id
FROM p JOIN s
  ON s.user_id = p.user_id AND s.sid < p.event_id
 AND (p.prev_p IS NULL OR s.sid > p.prev_p)
GROUP BY p.user_id, p.event_id
"""



# --- CEP output consumed relationally --------------------------------

def cep_conversion_rate(spark, sf_dir):
    """Cross-family composite: the signup→purchase CEP matches feed a
    RELATIONAL rollup — per user cohort (user_id mod 10), how many
    signups there were, how many converted (emitted a match), and the
    conversion rate as one exact-integer IEEE divide.  This is the
    production shape for pattern analytics at scale: match frames are
    ordinary DataFrames, so funnels/cohorts/rates compose onto them
    with plain Catalyst operators — no special post-processing path.
    The left join is on (user_id, signup event id): at most one match
    per signup (the pattern takes the first qualifying purchase), so
    counting matched rows counts converted signups."""
    matches = cep_signup_to_purchase(spark, sf_dir)
    signups = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select("user_id", F.col("event_id").alias("signup_id"))
    )
    return (
        signups.join(matches, ["user_id", "signup_id"], "left")
        .groupBy((F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.count("purchase_id").alias("n_converted"),
        )
        .select(
            "cohort", "n_signups", "n_converted",
            (F.col("n_converted").cast("double")
             / F.col("n_signups").cast("double")).alias("conv_rate"),
        )
    )


SQL_CONVERSION_RATE = """
WITH s AS (
  SELECT user_id, event_id AS signup_id FROM events
  WHERE event_type = 'signup'
),
conv AS (
  SELECT s.user_id, s.signup_id,
         EXISTS (SELECT 1 FROM events p
                 WHERE p.user_id = s.user_id AND p.event_id > s.signup_id
                   AND p.event_type = 'purchase' AND p.value > 50) AS hit
  FROM s
)
SELECT user_id % 10 AS cohort,
       COUNT(*) AS n_signups,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT AS n_converted,
       SUM(CASE WHEN hit THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         / COUNT(*)::DOUBLE AS conv_rate
FROM conv GROUP BY 1
"""


# --- nested-right relaxed combine (registered round 9; pre-staged r8) --

def cep_nested_funnel_relaxed(spark, sf_dir):
    """Signup followed (relaxed) by the NESTED sub-pattern "qualifying
    purchase IMMEDIATELY followed by an error" — `A then (B next C)`,
    the right-nested non-strict combine the reference refuses outright
    (compile.py:415-419) and round 8 lifted (cep/compiler.py
    `_build_combine`, replay-entry construction).  Semantics: after the
    signup, every event that cannot BEGIN the right child (anything
    but a >50 purchase) is skipped; the first qualifying purchase is
    taken, and the run survives only if the very next event in the
    user's stream is an error — no backtracking to a later purchase,
    exactly Flink's followedBy(group) contract.  Dispatches to the
    window fast path (the planner flattens right-nested spat chains,
    operators/fastpath.py)."""
    out = _run(
        spark,
        sf_dir,
        """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left:
    type: spat
    name: reg
    event: signup
    cndt: {expr: "True"}
  right:
    type: combine
    contiguity: strict
    left:
      type: spat
      name: buy
      event: purchase
      cndt: {expr: value > 50}
    right:
      type: spat
      name: err
      event: error
      cndt: {expr: "True"}
context:
  schema: {signup: [], purchase: [], error: [], click: [], view: []}
""",
    )
    return out.select(
        "user_id",
        _cap("reg")["event_id"].alias("signup_id"),
        _cap("buy")["event_id"].alias("purchase_id"),
        _cap("err")["event_id"].alias("error_id"),
    )


# Window replay: for each signup, the first qualifying purchase after
# it (relaxed gap = first-blocking-event), matched only if the user's
# IMMEDIATELY NEXT event is an error (the inner strict link).
SQL_NESTED_FUNNEL_RELAXED = """
WITH nb AS (
  SELECT user_id, event_id, event_type,
         MIN(CASE WHEN event_type = 'purchase' AND value > 50 THEN event_id END)
           OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_buy,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt_type,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt_id
  FROM events
)
SELECT s.user_id, s.event_id AS signup_id, b.event_id AS purchase_id,
       b.nxt_id AS error_id
FROM nb s
JOIN nb b ON b.user_id = s.user_id AND b.event_id = s.next_buy
WHERE s.event_type = 'signup' AND b.nxt_type = 'error'
"""


# --- strict negation / notNext (registered round 10) --------------------
#
# Pre-staged and oracle-verified in round 9; registered in round 10.

def cep_purchase_no_immediate_error(spark, sf_dir):
    """Strict negation — Flink CEP's ``notNext``, completing the
    negation surface next to ``cep_signup_abandoned``'s relaxed
    ``notFollowedBy``: big purchases (value > 100) whose IMMEDIATELY
    following event in the user's stream is NOT an error.  An error
    arriving later — with any other event in between — does not kill
    the match; that is exactly where notNext and notFollowedBy differ
    (operators/absence.py:not_next — tag + union + one ordered window
    pass per user; the oracle is the LEAD window formulation)."""
    base = _events(spark, sf_dir)
    purchases = base.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100)
    ).select("user_id", "event_id")
    out = not_next(
        purchases,
        base,
        on="event_id",
        by="user_id",
        cond=F.col("event_type") == "error",
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("next_on").alias("next_event_id"),
    )


SQL_PURCHASE_NO_IMMEDIATE_ERROR = """
WITH nb AS (
  SELECT user_id, event_id, event_type, value,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt_type,
         LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt_id
  FROM events
)
SELECT user_id, event_id AS purchase_id, nxt_id AS next_event_id
FROM nb
WHERE event_type = 'purchase' AND value > 100
  AND (nxt_type IS NULL OR nxt_type <> 'error')
"""


QUERIES = {
    "cep_high_purchases": cep_high_purchases,
    "cep_funnel_3step": cep_funnel_3step,
    "cep_funnel_within": cep_funnel_within,
    "cep_error_runs": cep_error_runs,
    "cep_purchase_then_error": cep_purchase_then_error,
    "cep_error_triples": cep_error_triples,
    "cep_signup_to_purchase": cep_signup_to_purchase,
    "cep_conversion_rate": cep_conversion_rate,
    "cep_view_click_cycles": cep_view_click_cycles,
    "cep_spending_burst": cep_spending_burst,
    "cep_error_streaks_skip": cep_error_streaks_skip,
    "cep_error_runs_skiptolast": cep_error_runs_skiptolast,
    "cep_signup_purchase_skipfirst": cep_signup_purchase_skipfirst,
    "cep_view_combos_ndrelaxed": cep_view_combos_ndrelaxed,
    "cep_optional_click_prefix": cep_optional_click_prefix,
    "cep_view_click_runs": cep_view_click_runs,
    "cep_error_pairs_skippast": cep_error_pairs_skippast,
    "cep_high_purchase_chains": cep_high_purchase_chains,
    "cep_error_then_purchase_grouped": cep_error_then_purchase_grouped,
    "cep_signup_any_purchase": cep_signup_any_purchase,
    "cep_signup_abandoned": cep_signup_abandoned,
    "cep_nested_funnel_relaxed": cep_nested_funnel_relaxed,
    "cep_purchase_no_immediate_error": cep_purchase_no_immediate_error,
}

ORACLES = {
    "cep_error_runs_skiptolast": SQL_ERROR_RUNS_SKIPTOLAST,
    "cep_signup_purchase_skipfirst": SQL_SIGNUP_PURCHASE_SKIPFIRST,
    "cep_high_purchases": SQL_HIGH_PURCHASES,
    "cep_funnel_3step": SQL_FUNNEL_3STEP,
    "cep_funnel_within": SQL_FUNNEL_WITHIN,
    "cep_error_runs": SQL_ERROR_RUNS,
    "cep_purchase_then_error": SQL_PURCHASE_THEN_ERROR,
    "cep_error_triples": SQL_ERROR_TRIPLES,
    "cep_signup_to_purchase": SQL_SIGNUP_TO_PURCHASE,
    "cep_conversion_rate": SQL_CONVERSION_RATE,
    "cep_view_click_cycles": SQL_VIEW_CLICK_CYCLES,
    "cep_optional_click_prefix": SQL_OPTIONAL_CLICK_PREFIX,
    "cep_spending_burst": SQL_SPENDING_BURST,
    "cep_error_streaks_skip": SQL_ERROR_STREAKS_SKIP,
    "cep_view_combos_ndrelaxed": SQL_VIEW_COMBOS_NDRELAXED,
    "cep_view_click_runs": SQL_VIEW_CLICK_RUNS,
    "cep_error_pairs_skippast": SQL_ERROR_PAIRS_SKIPPAST,
    "cep_high_purchase_chains": SQL_HIGH_PURCHASE_CHAINS,
    "cep_error_then_purchase_grouped": SQL_ERROR_THEN_PURCHASE_GROUPED,
    "cep_signup_any_purchase": SQL_SIGNUP_ANY_PURCHASE,
    "cep_signup_abandoned": SQL_SIGNUP_ABANDONED,
    "cep_nested_funnel_relaxed": SQL_NESTED_FUNNEL_RELAXED,
    "cep_purchase_no_immediate_error": SQL_PURCHASE_NO_IMMEDIATE_ERROR,
}


def cep_sql_alternation(spark, sf_dir):
    """Ordered alternation through the SQL front end (round-14
    continuation): per user, every row that begins EITHER a single
    high-value event (``H``, any type, value >= 90) OR a run of three
    consecutive errors (``E{3}``) — with SQL:2016's written-order
    preferment deciding overlaps (a high-value error that also starts
    an error triple classifies as ``H``), which the kernel implements
    via the lens-tuple lexicographic MAX (a left-branch candidate's
    lens dominates every right-branch one).  AFTER MATCH SKIP TO NEXT
    ROW emits exactly one match per eligible start, so the oracle is a
    pure lead-window CASE.  The measures exercise the round's whole
    new surface at once: CLASSIFIER() (which branch), MATCH_NUMBER(),
    and FIRST/LAST/COUNT over the SUBSET union U = (H, E).

    Scale shape: identical to every kernel CEP row — project to the
    referenced columns, ONE exchange on user_id, Arrow-batched
    MapInPandas, per-key state bounded by the live run-set
    (runs die within three events here).

    Oracle: lead(event_type, 1..2) + lead(event_id, 2) over the same
    per-user event order; preference is the CASE arm order."""
    from reflinkcep_spark.cep.match_recognize import match_recognize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    return match_recognize(
        ev,
        """MATCH_RECOGNIZE (
             PARTITION BY user_id
             ORDER BY event_id
             MEASURES CLASSIFIER() AS cls,
                      MATCH_NUMBER() AS mn,
                      FIRST(U.event_id) AS start_id,
                      LAST(U.event_id) AS end_id,
                      COUNT(U.*) AS n_rows
             AFTER MATCH SKIP TO NEXT ROW
             PATTERN (H | E{3})
             SUBSET U = (H, E)
             DEFINE H AS H.value >= 90,
                    E AS E.event_type = 'error'
           )""",
    )


SQL_CEP_SQL_ALTERNATION = """
WITH seq AS (
  SELECT user_id, event_id, event_type, value,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(event_id, 2)   OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
hits AS (
  SELECT user_id, event_id, e2,
         CASE WHEN value >= 90 THEN 'H'
              WHEN event_type = 'error' AND t1 = 'error'
                   AND t2 = 'error' THEN 'E'
         END AS cls
  FROM seq
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
         AS match_seq,
       cls,
       row_number() OVER (PARTITION BY user_id ORDER BY event_id)
         AS mn,
       event_id AS start_id,
       CASE WHEN cls = 'H' THEN event_id ELSE e2 END AS end_id,
       CASE WHEN cls = 'H' THEN 1 ELSE 3 END::BIGINT AS n_rows
FROM hits
WHERE cls IS NOT NULL
"""
