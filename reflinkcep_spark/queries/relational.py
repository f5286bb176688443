"""Relational operator surface over the TPC-H-ish star schema.

The reference engine has no relational operators at all (SURVEY §2.1);
this is the Catalyst-native breadth a Spark engine gets for free —
expressed as DataFrame plans (joins with broadcast hints, partial
aggregation, windows, rollup/cube, set ops, scalar functions), each
with a DuckDB oracle.

Cross-engine determinism rules used throughout:
* money sums/averages aggregate EXACT decimals and only then round —
  rounding a double sum is order-sensitive and can flake the value
  hash at some SF (see queries/exact.py for the full argument);
* every integer-typed output cast to BIGINT (Spark's year()/size()/
  row_number() return INT, DuckDB's return BIGINT);
* LIMIT always paired with a total ORDER BY tie-broken on a key.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from reflinkcep_spark.queries.exact import (
    cents,
    dec2,
    exact_avg4,
    exact_sum2,
    exact_sum2_from_unit4,
    unit4_product,
    unit4_revenue,
)
from reflinkcep_spark.sources import load_table


def _t(spark, sf_dir, name):
    # No spread() here: for scan→partial-agg→small-shuffle plans the
    # map-side combine already minimizes data movement, and a forced
    # repartition shuffles the full fact table for nothing (measured
    # +50% on q1 at sf0.1).  spread() pays off only before CPU-heavy
    # per-row work — see queries/pipeline.py.
    return load_table(spark, sf_dir, name)


# --- Q1-style pricing summary (filter → groupBy agg) -----------------

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # 2-decimal inputs aggregated as exact integer cents/10⁻⁴ units
    # (long adds in codegen; see queries/exact.py)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum2("l_quantity").alias("sum_qty"),
            exact_sum2("l_extendedprice").alias("sum_base_price"),
            exact_sum2_from_unit4(
                unit4_revenue("l_extendedprice", "l_discount")
            ).alias("sum_disc_price"),
            exact_avg4("l_quantity").alias("avg_qty"),
            exact_avg4("l_extendedprice").alias("avg_price"),
            exact_avg4("l_discount", "decimal(3,2)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)::DOUBLE AS sum_qty,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE AS sum_base_price,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS sum_disc_price,
       ((200 * SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
         + COUNT(l_quantity)) // (2 * COUNT(l_quantity))) / 10000.0 AS avg_qty,
       ((200 * SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         + COUNT(l_extendedprice)) // (2 * COUNT(l_extendedprice))) / 10000.0 AS avg_price,
       ((200 * SUM(CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
         + COUNT(l_discount)) // (2 * COUNT(l_discount))) / 10000.0 AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-30'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style top revenue (3-way join → agg → top-k) -----------------

def q3_top_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = exact_sum2_from_unit4(
        unit4_revenue("l_extendedprice", "l_discount")
    ).alias("revenue")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer (filtered) is small → broadcast, no shuffle of lineitem side
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("o_orderkey").alias("order_key"))
        .agg(revenue)
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


SQL_Q3 = """
SELECT o_orderkey AS order_key,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-06-01'
GROUP BY o_orderkey
ORDER BY revenue DESC, order_key
LIMIT 10
"""


# --- Q5-style multi-join through dimensions --------------------------

def q5_nation_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(dims, cust.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            exact_sum2_from_unit4(
                unit4_revenue("l_extendedprice", "l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q5 = """
SELECT n_name AS nation,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --- Q6-style scan-heavy filter + scalar aggregate -------------------

def q6_revenue_delta(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum2_from_unit4(
                unit4_product("l_extendedprice", "l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_Q6 = """
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_discount AS DECIMAL(3,2))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2001-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# --- window functions: top-3 customers per nation --------------------

def q_top_customers_per_nation(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("cust_key"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


SQL_TOP_CUST = """
SELECT nation, cust_key, acctbal, rnk FROM (
  SELECT n_name AS nation, c_custkey AS cust_key,
         ROUND(c_acctbal, 2) AS acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rnk <= 3
"""


# --- grouping sets: rollup + cube ------------------------------------

def q_rollup_order_priority(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum2("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube_lineitem_flags(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
        )
    )


SQL_CUBE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- set operations ---------------------------------------------------

def q_big_building_buyers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("cust_key")
    )
    big = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("cust_key")
    )
    return building.intersect(big)


SQL_INTERSECT = """
SELECT c_custkey AS cust_key FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS cust_key FROM orders WHERE o_totalprice > 400000
"""


def q_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.select(F.col("c_custkey").alias("cust_key")).exceptAll(
        orders.select(F.col("o_custkey").alias("cust_key"))
    ).distinct()


SQL_EXCEPT = """
SELECT DISTINCT c_custkey AS cust_key FROM customer
EXCEPT
SELECT o_custkey AS cust_key FROM orders
"""


# --- semi/anti joins --------------------------------------------------

def q_orders_without_items(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_ANTI = """
SELECT o_orderstatus AS status, COUNT(*) AS n_orders
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderstatus
"""


def q_parts_with_cheap_suppliers(spark, sf_dir):
    """Semi join: parts that appear in some lineitem priced under 2000."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") < 2000)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .select(F.col("p_partkey").alias("part_key"), F.col("p_brand").alias("brand"))
    )


SQL_SEMI = """
SELECT p_partkey AS part_key, p_brand AS brand
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_partkey = p_partkey AND l_extendedprice < 2000)
"""


# --- scalar functions -------------------------------------------------

def q_scalar_functions(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_size") % 5 == 0).select(
        F.col("p_partkey").alias("part_key"),
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
        F.abs(F.col("p_size") - 25).cast("long").alias("size_dev"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


SQL_SCALAR = """
SELECT p_partkey AS part_key,
       UPPER(SUBSTRING(p_name, 1, 8)) AS name_prefix,
       LENGTH(p_name) AS name_len,
       ROUND(p_retailprice * 1.1, 2) AS marked_up,
       ABS(p_size - 25) AS size_dev,
       CONCAT(p_brand, '/', p_type) AS brand_type
FROM part WHERE p_size % 5 = 0
"""


def q_orders_by_month(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_avg4("o_totalprice").alias("avg_price"),
        )
    )


SQL_BY_MONTH = """
SELECT YEAR(o_orderdate) AS order_year, MONTH(o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       ((200 * SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         + COUNT(o_totalprice)) // (2 * COUNT(o_totalprice))) / 10000.0 AS avg_price
FROM orders GROUP BY 1, 2
"""


def q_distinct_counts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


SQL_DISTINCT = """
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
"""


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube sugar over):
    per (flag, status), per flag, and grand total in ONE pass — Spark
    expands the sets map-side and partial-aggregates before the single
    shuffle, exactly like rollup/cube."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum2("l_quantity").alias("sum_qty"),
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
       ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)::DOUBLE AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_quantity_percentiles(spark, sf_dir):
    """Exact discrete percentiles per group: ``percentile_disc`` picks a
    real element of the distribution (first value with cumulative
    distribution ≥ p), so the result is engine-portable — unlike
    interpolating percentiles, whose float arithmetic isn't a
    cross-engine contract.  One shuffle on the group key; the per-group
    sort happens inside the aggregate.

    Scale note: the exact aggregate buffers each group's values, so it
    wants high-cardinality group keys; for billion-row groups the
    deployment path is ``approx_percentile(col, p, accuracy)``
    (t-digest-style bounded memory, same plan shape) — exact is used
    here because the correctness gate hashes values."""
    li = _t(spark, sf_dir, "lineitem")
    pd_ = lambda p: F.expr(  # noqa: E731
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY l_quantity)"
    )
    return li.groupBy("l_returnflag").agg(
        pd_(0.5).alias("p50"),
        pd_(0.9).alias("p90"),
        pd_(0.99).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       quantile_disc(l_quantity, 0.5) AS p50,
       quantile_disc(l_quantity, 0.9) AS p90,
       quantile_disc(l_quantity, 0.99) AS p99,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_above_nation_avg(spark, sf_dir):
    """Correlated scalar subqueries through the SQL front end: customers
    whose balance exceeds their nation's average, counted per nation.
    Catalyst decorrelates both subqueries into aggregate+join — the
    plan contains no per-row subquery execution (explain shows one
    aggregation of customer joined back to customer).

    The comparison is ``balance · n > Σ balance`` in exact DECIMAL
    arithmetic on both engines — an average-of-doubles cutoff would be
    summation-order-sensitive exactly at the boundary (see
    queries/exact.py)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__rs_customer")
    return spark.sql(
        """
        SELECT c_nationkey, COUNT(*) AS n_above
        FROM __rs_customer c
        WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
              * (SELECT COUNT(*) FROM __rs_customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                 FROM __rs_customer c2
                 WHERE c2.c_nationkey = c.c_nationkey)
        GROUP BY c_nationkey
        """
    )


SQL_ABOVE_NATION_AVG = """
SELECT c_nationkey, COUNT(*) AS n_above
FROM customer c
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c2.c_acctbal AS DECIMAL(18,2)))
         FROM customer c2
         WHERE c2.c_nationkey = c.c_nationkey)
GROUP BY c_nationkey
"""


def q_pivot_status_priority(spark, sf_dir):
    """PIVOT: order counts per priority, one column per order status.
    Spark's groupBy().pivot(col, values) with explicit values — naming
    the pivot values up front avoids the extra distinct-scan job AND
    keeps the output schema static, which is what you want in a
    production pipeline at any scale."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


SQL_PIVOT = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
"""


def q_unpivot_balances(spark, sf_dir):
    """UNPIVOT/melt: per-nation customer and supplier balance totals as
    (nation, kind, total) long-form rows — DataFrame ``unpivot`` over a
    two-metric aggregate."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c = cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        exact_sum2("c_acctbal").alias("customer_bal")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        exact_sum2("s_acctbal").alias("supplier_bal")
    )
    wide = c.join(s, "nationkey", "full").select(
        "nationkey",
        F.coalesce("customer_bal", F.lit(0.0)).alias("customer_bal"),
        F.coalesce("supplier_bal", F.lit(0.0)).alias("supplier_bal"),
    )
    return wide.unpivot(
        "nationkey", ["customer_bal", "supplier_bal"], "kind", "total"
    )


SQL_UNPIVOT = """
WITH c AS (
  SELECT c_nationkey AS nationkey,
         ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE AS customer_bal
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nationkey,
         ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2)::DOUBLE AS supplier_bal
  FROM supplier GROUP BY 1
),
wide AS (
  SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
         COALESCE(customer_bal, 0.0) AS customer_bal,
         COALESCE(supplier_bal, 0.0) AS supplier_bal
  FROM c FULL JOIN s USING (nationkey)
)
SELECT nationkey, kind, total
FROM wide UNPIVOT (total FOR kind IN (customer_bal, supplier_bal))
"""


# --- running window aggregates / ntile bucketing ---------------------

def q_running_order_totals(spark, sf_dir):
    """Cumulative spend per customer over order time — the running
    window aggregate (ROWS UNBOUNDED PRECEDING) every ledger/billing
    pipeline needs.  The window partitions by customer, so work stays
    one-shuffle, fully parallel (no global total-order exchange).  The
    running sum accumulates EXACT decimals and rounds only at output —
    a running double sum would be order-sensitive per prefix."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("order_key"),
        F.round(F.sum(dec2("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("running_spend"),
    )


SQL_RUNNING_TOTALS = """
SELECT o_custkey AS cust_key, o_orderkey AS order_key,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS UNBOUNDED PRECEDING), 2)::DOUBLE AS running_spend
FROM orders
"""


def q_balance_quartiles(spark, sf_dir):
    """NTILE bucketing: per-nation account-balance quartiles with
    count and bounds.  The ntile window partitions by nation — the
    scalable shape (a GLOBAL ntile would collapse into one task); ties
    are broken on the key so both engines assign identical buckets."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    t = cust.select(
        F.col("c_nationkey").alias("nation_key"),
        F.round("c_acctbal", 2).alias("bal"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )
    return t.groupBy("nation_key", "quartile").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.min("bal").alias("lo_bal"),
        F.max("bal").alias("hi_bal"),
    )


SQL_BALANCE_QUARTILES = """
WITH t AS (
  SELECT c_nationkey AS nation_key,
         ROUND(c_acctbal, 2) AS bal,
         NTILE(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT nation_key, quartile, COUNT(*) AS n_custs,
       MIN(bal) AS lo_bal, MAX(bal) AS hi_bal
FROM t
GROUP BY 1, 2
"""


# --- skew-safe join (operators/skew.py) ------------------------------

def q_skew_salted_events(spark, sf_dir):
    """Every error event annotated with its user's purchase count via
    the salted skew join (operators/skew.py): hot users concentrate a
    shuffled join's left side onto single reducers, so the left frame
    is salted over 8 sub-keys and the small per-user dimension is
    replicated 8x.  Salting is a plan-level rewrite — row-level results
    are identical to the plain join, which is exactly what the oracle
    checks (DuckDB runs the unsalted join)."""
    from reflinkcep_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    out = salted_join(
        ev.filter(F.col("event_type") == "error"), dim,
        on="user_id", how="left", salt=8,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
    )


SQL_SKEW_SALTED_EVENTS = """
WITH dim AS (
  SELECT user_id, COUNT(*) AS n_purchases
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT e.user_id, e.event_id AS error_id,
       COALESCE(dim.n_purchases, 0)::BIGINT AS n_purchases
FROM events e LEFT JOIN dim USING (user_id)
WHERE e.event_type = 'error'
"""


# --- TPC-H Q4 shape: EXISTS semi join with a non-equi residual -------

def q_late_ship_priority(spark, sf_dir):
    """Orders with at least one lineitem shipped >60 days after the
    order date, counted per priority (TPC-H Q4 adapted to this schema:
    no commit/receipt dates, so 'late' = shipdate − orderdate > 60 d).
    The semi join keeps the plan set-shaped — orders are never
    duplicated per matching lineitem, so no post-join distinct; the
    equi key carries the shuffle and the date residual is evaluated
    inside the join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


SQL_LATE_SHIP_PRIORITY = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_late_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# --- TPC-H Q13 shape: outer-join distribution ------------------------

def q_order_count_distribution(spark, sf_dir):
    """How many customers placed exactly N orders (including N=0) —
    TPC-H Q13, aggregate-BEFORE-join shape: orders collapse to one
    count row per customer first (map-side combine shrinks the
    exchange to distinct keys per task), and only then outer-join to
    customers.  Joining first and counting after — the literal SQL
    shape — would shuffle full orders-sized rows; aggregating first
    shuffles pre-combined counts, an orders/customers-ratio smaller
    exchange at any scale (Catalyst does not push aggregates below
    joins on its own).  The final distribution groupBy is over one
    row per customer — tiny."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_cust = cust.join(
        counts, cust.c_custkey == counts.o_custkey, "left"
    ).select(F.coalesce("cnt", F.lit(0)).alias("n_orders"))
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_custs")
    )


SQL_ORDER_COUNT_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_custs
FROM per_cust GROUP BY n_orders
"""


# --- TPC-H Q14 shape: conditional-aggregate ratio --------------------

def q_promo_revenue_share(spark, sf_dir):
    """Monthly share of revenue from PROMO-type parts (TPC-H Q14 per
    month).  Revenue accumulates in exact 10⁻⁴-unit longs (see
    queries/exact.py); the share is emitted as the plain ratio of the
    two exact integers — one IEEE divide of identical operands on both
    engines, so the double is bit-stable without any rounding dance.
    part joins broadcast (dimension ≪ fact at every SF)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev4 = unit4_revenue("l_extendedprice", "l_discount")
    promo4 = F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").cast("long").alias("ship_month"))
        .agg(
            (F.sum(promo4).cast("double") / F.sum(rev4).cast("double"))
            .alias("promo_share"),
            exact_sum2_from_unit4(promo4).alias("promo_revenue"),
            exact_sum2_from_unit4(rev4).alias("total_revenue"),
        )
    )


SQL_PROMO_REVENUE_SHARE = """
WITH j AS (
  SELECT MONTH(l_shipdate)::BIGINT AS ship_month,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(3,2))) AS rev,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
           AS rev4,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
)
SELECT ship_month,
       SUM(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END)::BIGINT::DOUBLE
         / SUM(rev4)::BIGINT::DOUBLE AS promo_share,
       ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END), 2)::DOUBLE
         AS promo_revenue,
       ROUND(SUM(rev), 2)::DOUBLE AS total_revenue
FROM j GROUP BY ship_month
"""


# --- TPC-H Q18 shape: agg-filter then join back ----------------------

def q_large_quantity_orders(spark, sf_dir):
    """Orders whose total quantity exceeds 250 (~top 1.5%), with the
    buyer attached — TPC-H Q18.  The aggregate-then-filter output is a
    small fraction of orders, so it is BROADCAST back onto orders and
    customer: the two big tables are never shuffled for the join, only
    lineitem shuffles once for its groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum2("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name",
            F.col("o_orderkey").alias("order_key"),
            "o_orderdate", "total_qty",
        )
    )


SQL_LARGE_QUANTITY_ORDERS = """
WITH big AS (
  SELECT l_orderkey,
         ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)::DOUBLE AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) > 250
)
SELECT c_custkey, c_name, o_orderkey AS order_key, o_orderdate, total_qty
FROM orders
JOIN big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- TPC-H Q22 shape: scalar-subquery threshold + anti join ----------

def q_segment_opportunity(spark, sf_dir):
    """Well-funded customers gone quiet: account balance above the
    average positive balance, but no order since 2000-01-01, rolled up
    per market segment (TPC-H Q22 adapted: segments instead of phone
    country codes, 'recently inactive' instead of 'never ordered' —
    every synthetic customer has old orders).  The above-average test
    runs in exact integer cents as ``bal·n > Σbal`` — comparing
    against a double average would let the two engines disagree on
    boundary customers.  The 1-row stats frame rides in via broadcast
    crossJoin; the recent-buyer set anti-joins on the customer key."""
    cust = _t(spark, sf_dir, "customer")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents("c_acctbal")).alias("pos_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(stats))
        .filter(cents("c_acctbal") * F.col("n_pos") > F.col("pos_cents"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            exact_sum2("c_acctbal").alias("total_bal"),
        )
    )


SQL_SEGMENT_OPPORTUNITY = """
WITH stats AS (
  SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
           AS pos_cents,
         COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment AS segment, COUNT(*) AS n_custs,
       ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE AS total_bal
FROM customer, stats
WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos > pos_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment
"""


# --- TPC-H Q19 shape: disjunctive pushdown ---------------------------

def q_disjunctive_revenue(spark, sf_dir):
    """Revenue from three OR-ed (brand, size-range, quantity-range)
    blocks — TPC-H Q19's shape.  The point at scale is PREDICATE
    STRUCTURE: the per-side conjuncts that appear in every OR block
    (quantity ≤ 30 on lineitem, size ≥ 1 on part) are factored out by
    Catalyst and PUSHED INTO BOTH SCANS, so the join sees pre-filtered
    inputs and only the mixed-table residual runs post-join; part
    rides in broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    block = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1) & (F.col("p_size") <= smax)
        & (F.col("l_quantity") >= qlo) & (F.col("l_quantity") <= qhi)
    )
    return (
        j.filter(
            block("Brand#12", 5, 1, 11)
            | block("Brand#23", 10, 10, 20)
            | block("Brand#24", 15, 20, 30)
        )
        .agg(
            exact_sum2_from_unit4(
                unit4_revenue("l_extendedprice", "l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_DISJUNCTIVE_REVENUE = """
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# --- TPC-H Q7 shape: one dimension joined in two roles ---------------

def q_binational_volume(spark, sf_dir):
    """Shipping volume between two nations by direction and ship year —
    TPC-H Q7.  The nation dimension joins TWICE in different roles
    (customer's nation via orders, supplier's nation via lineitem);
    only the nation dim itself is explicitly broadcast — customer,
    supplier, orders, and lineitem all scale with the fact data, so at
    100 TB the two fact-side joins (orders⋈customer, lineitem⋈orders)
    are genuine shuffle joins.  The scale lever here is EARLY
    REDUCTION: customer and supplier are pre-joined to the 2-of-25
    nation filter BEFORE touching the facts, so each shuffle carries
    only ~8% of the keyed side (at the audited sf0.1, AQE then
    converts the reduced sides to broadcasts — a bonus, not the
    design)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # Reduce the keyed sides first: 2-of-25 nations ≈ 8% of rows.
    cust_f = cust.join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
    supp_f = supp.join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
    return (
        li.join(supp_f, li.l_suppkey == supp_f.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_f, orders.o_custkey == cust_f.c_custkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            exact_sum2_from_unit4(
                unit4_revenue("l_extendedprice", "l_discount")
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_BINATIONAL_VOLUME = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       YEAR(l_shipdate)::BIGINT AS ship_year,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE ((cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
    OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


# --- TPC-H Q15 shape: max-of-aggregate selection ---------------------

def q_top_supplier(spark, sf_dir):
    """Supplier(s) with the maximum quarterly revenue — TPC-H Q15.
    The revenue-equals-max selection runs on EXACT integer 10⁻⁴-unit
    sums (a double-vs-double equality would be summation-order
    roulette); the 1-row max rides back via broadcast crossJoin, so
    the per-supplier aggregate is computed once and scanned once.
    Ties all surface, as in the spec."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(unit4_revenue("l_extendedprice", "l_discount")).alias("rev4"),
        exact_sum2_from_unit4(
            unit4_revenue("l_extendedprice", "l_discount")
        ).alias("total_revenue"),
    )
    # Referenced twice (the max + the selection scan): pin the
    # supplier-sized aggregate so the lineitem scan+agg runs once
    # (round 14; was 2 full fact passes).
    rev = rev.localCheckpoint(eager=False)
    top = rev.agg(F.max("rev4").alias("max4"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev4") == F.col("max4"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TOP_SUPPLIER = """
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT)))::BIGINT
           AS rev4,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    AND l_shipdate < TIMESTAMP '2000-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rev4 = (SELECT MAX(rev4) FROM r)
"""


# --- TPC-H Q17 shape: fact joined to its own per-group aggregate -----

def q_small_quantity_revenue(spark, sf_dir):
    """Revenue from brand lineitems whose quantity is below half the
    part's average quantity — TPC-H Q17.  The correlated AVG becomes a
    join against the fact table's own per-part aggregate; the brand
    filter is applied FIRST (broadcast part dim), so both the
    aggregate and the probe side cover only the brand's parts — at
    100 TB the self-aggregate never materializes for the other 96% of
    parts.  The threshold compares in exact integer cents:
    ``2·qty·n < Σqty`` instead of ``qty < 0.5·avg`` (a double divide
    on each side could disagree between engines on boundary rows)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    stats = li.groupBy(F.col("l_partkey").alias("sp_key")).agg(
        F.sum(cents("l_quantity")).alias("sum_qc"),
        F.count(F.lit(1)).alias("n_li"),
    )
    return (
        li.join(F.broadcast(stats), F.col("l_partkey") == F.col("sp_key"))
        .filter(2 * cents("l_quantity") * F.col("n_li") < F.col("sum_qc"))
        .agg(
            exact_sum2("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_SMALL_QUANTITY_REVENUE = """
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#12'
),
stats AS (
  SELECT l_partkey AS sp_key,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
           AS sum_qc,
         COUNT(*) AS n_li
  FROM li GROUP BY 1
)
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM li JOIN stats ON l_partkey = sp_key
WHERE 2 * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * n_li < sum_qc
"""


# --- TPC-H Q10 shape: aggregate the fact BEFORE the detail join ------

def q_returned_item_customers(spark, sf_dir):
    """Top customers by revenue lost to returned items in one quarter —
    TPC-H Q10.  The plan aggregates lineitem⋈orders down to one row
    per customer BEFORE joining customer details (the Q13 move —
    Catalyst does not reorder an agg past a join itself), so the
    customer join carries an aggregate-sized left side instead of
    fact-sized line items; nation broadcasts.  At 100 TB the
    cust_rev⋈customer join is a genuine shuffle join (both sides scale
    with SF — AQE broadcast at the audited SF is a bonus); top-20
    selection orders by the EXACT integer revenue with a key
    tie-break, so the cut is engine-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev4 = unit4_revenue("l_extendedprice", "l_discount")
    cust_rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            exact_sum2_from_unit4(rev4).alias("revenue"),
            F.sum(rev4).alias("_rev4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("cust_nation")
    )
    return (
        cust_rev.join(cust, cust_rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .orderBy(F.desc("_rev4"), "c_custkey")
        .limit(20)
        .select("c_name", "cust_nation", "revenue", "n_items")
    )


SQL_RETURNED_ITEM_CUSTOMERS = """
WITH cr AS (
  SELECT o_custkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
            )::BIGINT AS rev4,
         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
           AS revenue,
         COUNT(*) AS n_items
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY o_custkey
)
SELECT c_name, n_name AS cust_nation, revenue, n_items
FROM cr JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
ORDER BY rev4 DESC, c_custkey LIMIT 20
"""


# --- TPC-H Q8 shape: market share via two-level dimension chains -----

def q_nation_market_share(spark, sf_dir):
    """One supplier nation's share of a region's ECONOMY-part market by
    order year — TPC-H Q8.  Two independent dimension CHAINS scope the
    fact: region→nation reduces CUSTOMERS to the market region before
    any fact join (one broadcast, ~20% of customers survive), and
    nation labels SUPPLIERS for the share numerator (second broadcast
    of the same dim in a different role — the Q7 move).  The share is
    the ratio of two exact 10⁻⁴-unit integer sums (Q14's recipe: one
    IEEE divide of identical operands on both engines).  At 100 TB the
    three fact joins (lineitem⋈orders, ⋈customer, ⋈supplier) are
    shuffle joins on reduced sides; only the dims broadcast."""
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    region_nat = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("mkt_nkey"))
    )
    cust_f = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(region_nat), F.col("c_nationkey") == F.col("mkt_nkey"))
        .select("c_custkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            _t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev4 = unit4_revenue("l_extendedprice", "l_discount")
    nat4 = F.when(F.col("supp_nation") == "NATION_5", rev4).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_f, orders.o_custkey == cust_f.c_custkey, "leftsemi")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (F.sum(nat4).cast("double") / F.sum(rev4).cast("double"))
            .alias("mkt_share"),
            exact_sum2_from_unit4(nat4).alias("nation_revenue"),
            exact_sum2_from_unit4(rev4).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_NATION_MARKET_SHARE = """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * (100 - CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT))
           AS rev4,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(3,2))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'ECONOMY'
)
SELECT year(o_orderdate)::BIGINT AS o_year,
       SUM(CASE WHEN sn.n_name = 'NATION_5' THEN rev4 ELSE 0 END)::BIGINT::DOUBLE
         / SUM(rev4)::BIGINT::DOUBLE AS mkt_share,
       ROUND(SUM(CASE WHEN sn.n_name = 'NATION_5' THEN rev ELSE 0 END), 2)::DOUBLE
         AS nation_revenue,
       ROUND(SUM(rev), 2)::DOUBLE AS total_revenue,
       COUNT(*) AS n_items
FROM l
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA')
GROUP BY o_year
"""


# --- TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact -----

def q_waiting_suppliers(spark, sf_dir):
    """Suppliers in one nation who were the SOLE late shipper on a
    finished multi-supplier order — TPC-H Q21, the hardest
    decorrelation shape: EXISTS (another supplier on the same order)
    plus NOT EXISTS (another LATE supplier on the same order), both
    against the same fact table.  The testdata schema has no
    l_receiptdate/l_commitdate, so "late" is adapted to
    ``l_shipdate > o_orderdate + 90 days``.

    Decorrelated as one LEFT SEMI and one LEFT ANTI self-join keyed on
    l_orderkey — no row-duplicating inner join, so match multiplicity
    can't inflate the count.  Scale shape: the late frame is computed
    once (lazy localCheckpoint — it feeds both the probe and the anti
    build side), the probe side is reduced to the target nation's
    suppliers BEFORE the self-joins (supplier⋈broadcast(nation) then a
    shuffle join on suppkey — at the audited sf0.1 AQE converts it to
    a broadcast; at 100 TB it's a genuine but 25×-reduced shuffle),
    and the semi join's build side is a 2-column projection of
    lineitem.  The anti build side (late, all nations) stays
    unreduced on purpose — exoneration may come from any nation."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    # Referenced twice (probe base + anti build): compute once.
    late = late.localCheckpoint(eager=False)
    supp_f = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = late.join(supp_f, late.l_suppkey == supp_f.s_suppkey)
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = late.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    waiting = (
        l1.join(
            l2,
            (l1.l_orderkey == l2.o2) & (l1.l_suppkey != l2.s2),
            "leftsemi",
        ).join(
            l3,
            (F.col("l_orderkey") == l3.o3) & (F.col("l_suppkey") != l3.s3),
            "leftanti",
        )
    )
    return (
        waiting.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


SQL_WAITING_SUPPLIERS = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
"""


# --- TPC-H Q20 shape: nested semi-join chain, correlated threshold ---

def q_excess_inventory_suppliers(spark, sf_dir):
    """Suppliers in one nation who front-loaded a 'small%' part —
    shipped MORE THAN HALF of their all-time quantity of that part in
    1995 alone — TPC-H Q20's nested semi-join chain with a correlated
    half-of-quantity threshold, adapted to the testdata schema (no
    partsupp table, so ps_availqty's half-of-shipped comparison
    becomes a one-year-vs-all-time half comparison on the same
    supplier-part aggregate).

    Semi joins all the way down — part filter into lineitem (LEFT
    SEMI against the broadcast 'small%' part keys), qualifying
    suppkeys into supplier (LEFT SEMI against the aggregate-sized
    qualifying set) — so no step duplicates rows.  The threshold
    compares in exact integer cents (``2·Σqty_1995 > Σqty_all``, the
    q_small_quantity_revenue trick) so boundary rows can't disagree
    between engines.  Scale shape: one shuffle on (suppkey, partkey)
    over the part-filtered lineitem subset; everything downstream is
    aggregate-sized."""
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"), "leftsemi"
    )
    qualifying = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(F.year("l_shipdate") == 1995, cents("l_quantity")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("qty_1995"),
            F.sum(cents("l_quantity")).alias("qty_all"),
        )
        .filter(2 * F.col("qty_1995") > F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "leftsemi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


SQL_EXCESS_INVENTORY_SUPPLIERS = """
WITH sp AS (
  SELECT l_suppkey,
         SUM(CASE WHEN year(l_shipdate) = 1995
                  THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END)::BIGINT AS qty_1995,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))::BIGINT
           AS qty_all
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  GROUP BY l_suppkey, l_partkey
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_5'
WHERE s_suppkey IN (SELECT l_suppkey FROM sp WHERE 2 * qty_1995 > qty_all)
ORDER BY s_name
"""


# --- Q2 shape: min-cost supplier per part (registered round 8) -------
#
# q_min_cost_suppliers, q_important_parts, and q_local_supplier_volume
# were pre-staged (written + oracle-verified) in round 7 and registered
# in round 8.

def q_min_cost_suppliers(spark, sf_dir):
    """For every ECONOMY part, the EUROPE supplier(s) quoting the
    minimum historical price — TPC-H Q2's correlated min-per-group
    subquery, adapted to the testdata schema (no partsupp: supply
    cost per (part, supplier) := MIN of that supplier's exact-cents
    extendedprice for the part over lineitem).

    The classic Q2 decorrelation, but as ONE window pass instead of
    aggregate+join-back: per-(part, supplier) costs are shuffled once
    on l_partkey, and ``MIN(cost) OVER (PARTITION BY part)`` + filter
    keeps the tie-preserving minimum rows — no second shuffle, no
    self-join.  Supplier→nation→region is a broadcast chain onto the
    aggregate-sized cost frame; the part filter broadcasts last, after
    the min cut has already shrunk the rows.  Exact cents (BIGINT), so
    boundary ties are engine-stable; ORDER BY is a total order
    (p_partkey breaks all remaining ties) so LIMIT 100 is
    deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    nr = _t(spark, sf_dir, "nation").join(
        F.broadcast(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
        ),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey", "p_name")
    )
    # Cut lineitem to EUROPE suppliers × ECONOMY parts BEFORE the
    # (part, supplier) aggregate (guide §2.3 "shuffle fewer bytes" /
    # §3.2 pre-filter the big side): both predicates are exactly the
    # downstream inner-join keys, and MIN within a surviving group
    # never sees rows of dropped groups, so the result is unchanged
    # while the aggregate's exchange carries ~1/25 of the rows.  The
    # dims broadcast (region→nation→supplier is bounded; the part list
    # is a key-only projection of an already-filtered dim).
    li = li.join(
        F.broadcast(eu.select("s_suppkey")),
        li.l_suppkey == F.col("s_suppkey"),
        "leftsemi",
    ).join(
        F.broadcast(part_f.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "leftsemi",
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents("l_extendedprice")).alias("cost_cents")
    )
    cr = cost.join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey).select(
        "l_partkey", "cost_cents", "s_name", "s_acctbal", "n_name"
    )
    w = Window.partitionBy("l_partkey")
    best = cr.withColumn("min_cost", F.min("cost_cents").over(w)).filter(
        F.col("cost_cents") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost_cents"
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


SQL_MIN_COST_SUPPLIERS = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            )::BIGINT AS cost_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
),
cr AS (
  SELECT c.l_partkey, c.cost_cents, eu.s_name, eu.s_acctbal, eu.n_name
  FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey
),
mn AS (SELECT l_partkey, MIN(cost_cents) AS min_cost FROM cr GROUP BY l_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_cents
FROM cr JOIN mn ON mn.l_partkey = cr.l_partkey AND cr.cost_cents = mn.min_cost
JOIN part ON p_partkey = cr.l_partkey AND p_type = 'ECONOMY'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# --- Q11 shape: group share of a global scalar (PRE-STAGED, round 8) --

def q_important_parts(spark, sf_dir):
    """Parts whose shipped value through NATION_3's suppliers exceeds
    1/2000 of that nation's total shipped value — TPC-H Q11's
    group-aggregate-vs-global-scalar threshold.

    Plan: the nation's supplier keys broadcast into a LEFT SEMI on
    lineitem (fact never widened), one shuffle aggregates value per
    part, a second pass reduces that aggregate to ONE total row which
    broadcasts back via crossJoin — the established 1-row scalar-frame
    pattern.  The threshold is an integer cross-multiply
    (``value * 2000 > total``), not a double divide, so boundary parts
    are engine-stable.  Headroom: total cents at 100 TB ≈ 1e15 — the
    ×2000 product stays in BIGINT with ~4 decimal digits to spare;
    past that move both sides to DECIMAL(38,0)."""
    nsupp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(nsupp), F.col("l_suppkey") == F.col("s_suppkey"), "leftsemi"
    )
    v = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).alias("value_cents")
    )
    # Referenced twice (the 1-row total + the threshold scan): pin the
    # part-sized aggregate so the fact semi-join+agg runs once
    # (round 14; was 2 full fact passes).
    v = v.localCheckpoint(eager=False)
    total = v.agg(F.sum("value_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 2000 > F.col("total_cents"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


SQL_IMPORTANT_PARTS = """
WITH v AS (
  SELECT l_partkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            )::BIGINT AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON n_nationkey = s_nationkey
                                 AND n_name = 'NATION_3')
  GROUP BY l_partkey
),
t AS (SELECT SUM(value_cents)::BIGINT AS total_cents FROM v)
SELECT l_partkey AS p_partkey, value_cents
FROM v, t
WHERE value_cents * 2000 > total_cents
ORDER BY value_cents DESC, p_partkey
"""


# --- Q5 shape: LOCAL supplier volume (PRE-STAGED for round 8) ---------

def q_local_supplier_volume(spark, sf_dir):
    """Revenue shipped within each ASIA nation by that nation's OWN
    suppliers — TPC-H Q5's distinctive twist: the customer and the
    supplier of the same lineitem must share a nation
    (``c_nationkey = s_nationkey``), a cross-fact residual no other
    registered query exercises (q5_nation_revenue has no supplier
    leg).

    Plan: region→nation→supplier reduces to a broadcast-sized
    (s_suppkey, nation) frame that LEFT-justifies the fact first —
    lineitem shrinks to ASIA-supplier rows BEFORE the only two real
    shuffles (orderkey join to orders, custkey join to customer).  The
    same-nation residual rides the customer equi-join instead of a
    post-join filter, so mismatched rows die inside the join.  Exact
    unit-4 revenue arithmetic keeps the oracle compare bit-stable."""
    nr = _t(spark, sf_dir, "nation").join(
        F.broadcast(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
        ),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (F.col("o_custkey") == cust.c_custkey)
            & (cust.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            exact_sum2_from_unit4(
                unit4_revenue("l_extendedprice", "l_discount")
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
GROUP BY n_name
"""


# --- Q9/Q12/Q16 shapes (registered round 9; pre-staged round 8) --------

def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: per (supplier nation, order year) profit on
    PROMO parts — profit := revenue − supply cost, with supply cost
    adapted to the testdata schema (no partsupp: cost per line :=
    p_retailprice · l_quantity).  Profit can be NEGATIVE, so the
    half-up cent rounding of exact_sum2_from_unit4 (positive-domain
    floor trick) is wrong here; instead the exact unit-4 long sum is
    divided once in DECIMAL and cast — both engines correctly round
    the same exact rational to double, no ROUND needed.

    Plan: part (PROMO filter) and supplier→nation broadcast into the
    fact; the only real shuffle is the orderkey join to orders, then
    one (nation, year) agg exchange."""
    part = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey", "p_retailprice")
    )
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_u4 = unit4_revenue("l_extendedprice", "l_discount") - (
        cents("p_retailprice") * 100 * F.col("l_quantity").cast("long")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(profit_u4).cast("decimal(38,0)") / 10000)
            .cast("double")
            .alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_PRODUCT_PROFIT = """
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       (SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(3,2)))
            - CAST(p_retailprice AS DECIMAL(18,2))
              * CAST(l_quantity AS BIGINT)))::DOUBLE AS profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q_late_lines_by_status(spark, sf_dir):
    """TPC-H Q12 shape: conditional priority counts per line attribute,
    adapted to the testdata schema (no l_shipmode/l_receiptdate —
    l_linestatus is the grouping axis and "late" := shipped 60+ days
    after the order date).  One fact-side filterable join condition,
    two conditional sums in a single agg pass — the Q12 plan property
    is that the CASE logic rides the one (status) exchange."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_linestatus").alias("status"))
        .agg(
            F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0))).alias("high_line_count"),
            F.sum(F.when(high, F.lit(0)).otherwise(F.lit(1))).alias("low_line_count"),
        )
    )


SQL_LATE_LINES_BY_STATUS = """
SELECT l_linestatus AS status,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def q_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier counts per (brand, size),
    excluding an out-list of suppliers, adapted to the testdata schema
    (no partsupp: the part↔supplier relation is the distinct
    (l_partkey, l_suppkey) pairs of lineitem; the excluded suppliers
    are s_acctbal < 1000 instead of complaint-comment matches).

    Plan: the exclusion is a broadcast ANTI join (NOT IN with
    guaranteed-non-null keys), part is a broadcast dim, the pair
    distinct and the count-distinct agg share the same keys."""
    bad = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select("s_suppkey")
    )
    part = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") != "PROMO")
        .select("p_partkey", "p_brand", "p_size")
    )
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    return (
        pairs.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_PART_SUPPLIER_COUNTS = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000))
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
GROUP BY 1, 2
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "q6_revenue_delta": q6_revenue_delta,
    "q_top_customers_per_nation": q_top_customers_per_nation,
    "q_rollup_order_priority": q_rollup_order_priority,
    "q_cube_lineitem_flags": q_cube_lineitem_flags,
    "q_big_building_buyers": q_big_building_buyers,
    "q_customers_without_orders": q_customers_without_orders,
    "q_orders_without_items": q_orders_without_items,
    "q_parts_with_cheap_suppliers": q_parts_with_cheap_suppliers,
    "q_scalar_functions": q_scalar_functions,
    "q_orders_by_month": q_orders_by_month,
    "q_distinct_counts": q_distinct_counts,
    "q_grouping_sets": q_grouping_sets,
    "q_quantity_percentiles": q_quantity_percentiles,
    "q_above_nation_avg": q_above_nation_avg,
    "q_pivot_status_priority": q_pivot_status_priority,
    "q_unpivot_balances": q_unpivot_balances,
    "q_running_order_totals": q_running_order_totals,
    "q_balance_quartiles": q_balance_quartiles,
    "q_skew_salted_events": q_skew_salted_events,
    "q_late_ship_priority": q_late_ship_priority,
    "q_order_count_distribution": q_order_count_distribution,
    "q_promo_revenue_share": q_promo_revenue_share,
    "q_large_quantity_orders": q_large_quantity_orders,
    "q_segment_opportunity": q_segment_opportunity,
    "q_disjunctive_revenue": q_disjunctive_revenue,
    "q_binational_volume": q_binational_volume,
    "q_top_supplier": q_top_supplier,
    "q_small_quantity_revenue": q_small_quantity_revenue,
    "q_waiting_suppliers": q_waiting_suppliers,
    "q_excess_inventory_suppliers": q_excess_inventory_suppliers,
    "q_returned_item_customers": q_returned_item_customers,
    "q_nation_market_share": q_nation_market_share,
    "q_min_cost_suppliers": q_min_cost_suppliers,
    "q_important_parts": q_important_parts,
    "q_local_supplier_volume": q_local_supplier_volume,
    "q_product_profit": q_product_profit,
    "q_late_lines_by_status": q_late_lines_by_status,
    "q_part_supplier_counts": q_part_supplier_counts,
}

ORACLES = {
    "q1_pricing_summary": SQL_Q1,
    "q3_top_orders": SQL_Q3,
    "q5_nation_revenue": SQL_Q5,
    "q6_revenue_delta": SQL_Q6,
    "q_top_customers_per_nation": SQL_TOP_CUST,
    "q_rollup_order_priority": SQL_ROLLUP,
    "q_cube_lineitem_flags": SQL_CUBE,
    "q_big_building_buyers": SQL_INTERSECT,
    "q_customers_without_orders": SQL_EXCEPT,
    "q_orders_without_items": SQL_ANTI,
    "q_parts_with_cheap_suppliers": SQL_SEMI,
    "q_scalar_functions": SQL_SCALAR,
    "q_orders_by_month": SQL_BY_MONTH,
    "q_distinct_counts": SQL_DISTINCT,
    "q_grouping_sets": SQL_GROUPING_SETS,
    "q_quantity_percentiles": SQL_PERCENTILES,
    "q_above_nation_avg": SQL_ABOVE_NATION_AVG,
    "q_pivot_status_priority": SQL_PIVOT,
    "q_unpivot_balances": SQL_UNPIVOT,
    "q_running_order_totals": SQL_RUNNING_TOTALS,
    "q_balance_quartiles": SQL_BALANCE_QUARTILES,
    "q_skew_salted_events": SQL_SKEW_SALTED_EVENTS,
    "q_late_ship_priority": SQL_LATE_SHIP_PRIORITY,
    "q_order_count_distribution": SQL_ORDER_COUNT_DISTRIBUTION,
    "q_promo_revenue_share": SQL_PROMO_REVENUE_SHARE,
    "q_large_quantity_orders": SQL_LARGE_QUANTITY_ORDERS,
    "q_segment_opportunity": SQL_SEGMENT_OPPORTUNITY,
    "q_disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
    "q_binational_volume": SQL_BINATIONAL_VOLUME,
    "q_top_supplier": SQL_TOP_SUPPLIER,
    "q_small_quantity_revenue": SQL_SMALL_QUANTITY_REVENUE,
    "q_waiting_suppliers": SQL_WAITING_SUPPLIERS,
    "q_excess_inventory_suppliers": SQL_EXCESS_INVENTORY_SUPPLIERS,
    "q_returned_item_customers": SQL_RETURNED_ITEM_CUSTOMERS,
    "q_nation_market_share": SQL_NATION_MARKET_SHARE,
    "q_min_cost_suppliers": SQL_MIN_COST_SUPPLIERS,
    "q_important_parts": SQL_IMPORTANT_PARTS,
    "q_local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "q_product_profit": SQL_PRODUCT_PROFIT,
    "q_late_lines_by_status": SQL_LATE_LINES_BY_STATUS,
    "q_part_supplier_counts": SQL_PART_SUPPLIER_COUNTS,
}
