"""Reference core: the reference workload's own operators (``op_*``),
gold models (``gold_*``), dashboards (``dash_*``) and data-quality
assertions (``dq_*``), each paired with its DuckDB oracle.

Every query re-expresses one step of the reference lakehouse (bronze →
silver → gold → dashboards and the fail-fast DQ gate) through the same
library code the pipeline runs (:mod:`..plans.silver`,
:mod:`..plans.gold`, :mod:`..plans.dashboards`); each docstring cites
the reference file and lines it mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import clean_id
from ..operators.dedupe import duplicate_groups, keep_latest
from ..plans import dashboards, gold, silver
from ._core import _t, query


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------

@query(
    "op_clean_id",
    oracle="""
    SELECT
      o_orderkey,
      CAST(CAST(TRUNC(TRY_CAST(CAST(o_orderkey AS VARCHAR) || '.0' AS DOUBLE)) AS BIGINT) AS VARCHAR) AS from_float_str,
      CAST(CAST(TRUNC(TRY_CAST(CAST(o_orderkey AS VARCHAR) || '.7' AS DOUBLE)) AS BIGINT) AS VARCHAR) AS from_frac_str,
      CAST(CAST(TRUNC(TRY_CAST(o_orderpriority AS DOUBLE)) AS BIGINT) AS VARCHAR) AS from_garbage
    FROM orders
    """,
)
def op_clean_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID normalization semantics on synthesized dirty ids:
    "1050.0"→"1050", fractional truncates toward zero, garbage→NULL.
    Reference: /root/reference/02_silver/02_silver_transform.py:41-42.
    """
    orders = _t(spark, sf_dir, "orders")
    key_str = F.col("o_orderkey").cast("string")
    return orders.select(
        F.col("o_orderkey"),
        clean_id(F.concat(key_str, F.lit(".0"))).alias("from_float_str"),
        clean_id(F.concat(key_str, F.lit(".7"))).alias("from_frac_str"),
        clean_id(F.col("o_orderpriority")).alias("from_garbage"),
    )


@query(
    "op_project_silver_customers",
    oracle="""
    SELECT
      CAST(c_custkey AS VARCHAR) AS customer_id,
      TRIM(c_name) AS name,
      LOWER(TRIM(c_mktsegment)) AS segment,
      CAST(c_nationkey AS INT) AS nation_key,
      c_acctbal AS acctbal
    FROM customer
    WHERE c_custkey IS NOT NULL
    """,
)
def op_project_silver_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed select-projection + trim/lower + null-PK filter
    (02_silver_transform.py:53-69)."""
    return silver.silver_customers(_t(spark, sf_dir, "customer"))


@query(
    "op_project_silver_orders",
    oracle="""
    SELECT
      CAST(o_orderkey AS VARCHAR) AS order_id,
      CAST(o_custkey AS VARCHAR) AS customer_id,
      o_orderstatus AS status,
      o_orderpriority AS priority,
      o_totalprice AS total_usd,
      CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    WHERE o_orderkey IS NOT NULL
    """,
)
def op_project_silver_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders silver projection with date derivation
    (02_silver_transform.py:115-137). Raw timestamp column excluded
    from the checked output (determinism rule)."""
    return silver.silver_orders(_t(spark, sf_dir, "orders")).drop("order_ts")


@query(
    "op_join_left_enrich_items",
    oracle="""
    SELECT
      CAST(l_orderkey AS VARCHAR) AS order_id,
      CAST(l_partkey AS VARCHAR) AS product_id,
      CAST(l_linenumber AS INT) AS line_number,
      CAST(TRUNC(l_quantity) AS INT) AS quantity,
      l_extendedprice AS line_total_usd,
      l_discount AS discount_pct,
      COALESCE(CAST(o.o_orderdate AS DATE), DATE '1970-01-01') AS order_date
    FROM lineitem li
    LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
    WHERE li.l_orderkey IS NOT NULL AND CAST(TRUNC(l_quantity) AS INT) > 0
    """,
)
def op_join_left_enrich_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_items silver: positive-qty filter + left-join order_date
    backfill with sentinel coalesce (02_silver_transform.py:148-174)."""
    orders_clean = silver.silver_orders(_t(spark, sf_dir, "orders"))
    return silver.silver_order_items(_t(spark, sf_dir, "lineitem"), orders_clean)


@query(
    "op_filter_range",
    oracle="""
    SELECT
      CAST(l_orderkey AS VARCHAR) AS order_id,
      CAST(l_partkey AS VARCHAR) AS product_id,
      CAST(TRUNC(l_quantity) AS INT) AS quantity,
      l_discount AS discount_pct
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
    """,
)
def op_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-range predicates pushed to the scan
    (02_silver_transform.py:157, 03_gold_aggregate.py:207-209)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & F.col("l_discount").between(0.02, 0.08)
    ).select(
        clean_id("l_orderkey").alias("order_id"),
        clean_id("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("int").alias("quantity"),
        F.col("l_discount").alias("discount_pct"),
    )


# ---------------------------------------------------------------------------
# §2.5 Window: keep-latest dedupe
# ---------------------------------------------------------------------------

@query(
    "op_dedupe_latest",
    oracle="""
    SELECT user_id, event_id, event_type, event_date, amount_usd FROM (
      SELECT
        CAST(user_id AS VARCHAR) AS user_id,
        CAST(event_id AS VARCHAR) AS event_id,
        event_type,
        CAST(ts AS DATE) AS event_date,
        value AS amount_usd,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def op_dedupe_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key window dedupe with deterministic tiebreak
    (the reference's six-fold idiom, 02_silver_transform.py:66-69)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    latest = keep_latest(ev, ["user_id"], ["event_ts", "event_id"])
    return latest.select("user_id", "event_id", "event_type", "event_date", "amount_usd")


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------

@query(
    "op_agg_pivotcount",
    oracle="""
    SELECT
      CAST(ts AS DATE) AS event_date,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count
    FROM events
    GROUP BY 1
    """,
)
def op_agg_pivotcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count pivot per day (03_gold_aggregate.py:48-54)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    return ev.groupBy("event_date").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("view_count"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("cart_count"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchase_count"
        ),
    )


@query(
    "op_agg_sales",
    oracle="""
    SELECT
      CAST(o_orderdate AS DATE) AS order_date,
      o_orderpriority AS priority,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
      COUNT(*) AS order_count
    FROM orders
    GROUP BY 1, 2
    """,
)
def op_agg_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sum-by-group money rollup (03_gold_aggregate.py:57-62) with
    order-independent DECIMAL summation."""
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    from ..functions.math import dec_sum

    return orders.groupBy("order_date", "priority").agg(
        dec_sum(F.col("total_usd")).alias("total_revenue"),
        F.count(F.lit(1)).alias("order_count"),
    )


@query(
    "op_agg_reviews",
    oracle="""
    SELECT
      CAST(l_partkey AS VARCHAR) AS product_id,
      CAST(FLOOR((CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)) * 100.0 + 0.5) / 100.0 AS DOUBLE) AS avg_rating,
      COUNT(*) AS review_count
    FROM lineitem
    GROUP BY 1
    """,
)
def op_agg_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg+count per key (reviews rollup, 03_gold_aggregate.py:70-75),
    exact-sum-based average."""
    li = _t(spark, sf_dir, "lineitem")
    from ..functions.math import round2

    return li.groupBy(clean_id("l_partkey").alias("product_id")).agg(
        round2(
            F.sum(F.col("l_discount").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_rating"),
        F.count(F.lit(1)).alias("review_count"),
    )


@query(
    "op_agg_having",
    oracle="""
    SELECT CAST(l_orderkey AS VARCHAR) AS order_id, COUNT(*) AS n_dups
    FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def op_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY … HAVING COUNT(*) > 1 (the DQ duplicate-detection
    shape, 04_data_quality_checks.py:61-66)."""
    li = _t(spark, sf_dir, "lineitem")
    return duplicate_groups(
        li.select(clean_id("l_orderkey").alias("order_id")), ["order_id"]
    )


# ---------------------------------------------------------------------------
# §2.3 + §2.4 Gold models
# ---------------------------------------------------------------------------

@query(
    "gold_daily_metrics",
    oracle="""
    WITH em AS (
      SELECT CAST(ts AS DATE) AS event_date,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count
      FROM events GROUP BY 1
    ), om AS (
      SELECT CAST(o_orderdate AS DATE) AS event_date,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS gross_revenue,
        COUNT(*) AS order_count
      FROM orders GROUP BY 1
    )
    SELECT
      COALESCE(em.event_date, om.event_date) AS event_date,
      COALESCE(view_count, 0) AS view_count,
      COALESCE(cart_count, 0) AS cart_count,
      COALESCE(purchase_count, 0) AS purchase_count,
      COALESCE(gross_revenue, 0.0) AS gross_revenue,
      COALESCE(order_count, 0) AS order_count
    FROM em FULL OUTER JOIN om USING (event_date)
    """,
)
def gold_daily_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer metric alignment with zero-fill
    (03_gold_aggregate.py:78-88)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    return gold.gold_daily_metrics(ev, orders)


@query(
    "gold_product_metrics",
    oracle="""
    WITH items AS (
      SELECT l_partkey, l_orderkey, CAST(TRUNC(l_quantity) AS INT) AS quantity,
             l_extendedprice, l_discount
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND CAST(TRUNC(l_quantity) AS INT) > 0
    ), sales AS (
      SELECT CAST(l_partkey AS VARCHAR) AS product_id,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
        CAST(SUM(quantity) AS BIGINT) AS units_sold,
        COUNT(*) AS line_count
      FROM items GROUP BY 1
    ), reviews AS (
      SELECT CAST(l_partkey AS VARCHAR) AS product_id,
        CAST(FLOOR((CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)) * 100.0 + 0.5) / 100.0 AS DOUBLE) AS avg_rating,
        COUNT(*) AS review_count
      FROM items GROUP BY 1
    ), dim AS (
      SELECT CAST(p_partkey AS VARCHAR) AS product_id, TRIM(p_name) AS product_name,
             p_type AS category
      FROM part WHERE p_partkey IS NOT NULL
    )
    SELECT sales.product_id,
      COALESCE(product_name, 'UNKNOWN') AS product_name,
      COALESCE(category, 'UNKNOWN') AS category,
      total_revenue, units_sold, line_count,
      COALESCE(avg_rating, 0.0) AS avg_rating,
      COALESCE(reviews.review_count, 0) AS review_count
    FROM sales
    LEFT JOIN dim USING (product_id)
    LEFT JOIN reviews USING (product_id)
    """,
)
def gold_product_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sales rollup ⟕ broadcast dim ⟕ rating aggs with UNKNOWN/zero
    coalesces (03_gold_aggregate.py:57-92).

    The items frame skips the orders enrichment join (r13): this
    rollup never reads ``order_date``, the join is 1:1 on the orders
    PK, and the oracle above computes from lineitem alone — dropping
    it removes a whole orders scan + broadcast from the plan with
    bit-identical output."""
    items = silver.silver_order_items(_t(spark, sf_dir, "lineitem"), None)
    prods = silver.silver_products(_t(spark, sf_dir, "part"))
    return gold.gold_product_metrics(items, prods)


@query(
    "gold_product_funnel",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS event_date,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count
      FROM events GROUP BY 1
    )
    SELECT event_date, view_count, cart_count, purchase_count,
      CASE WHEN view_count = 0 THEN 0.0
           ELSE LEAST(100.0, FLOOR(cart_count * 100.0 / view_count * 100.0 + 0.5) / 100.0) END AS view_to_cart_pct,
      CASE WHEN cart_count = 0 THEN 0.0
           ELSE LEAST(100.0, FLOOR(purchase_count * 100.0 / cart_count * 100.0 + 0.5) / 100.0) END AS cart_to_purchase_pct
    FROM daily
    """,
)
def gold_product_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily funnel with least-capped safe percentages
    (03_gold_aggregate.py:127-155)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    return gold.gold_product_funnel(ev)


@query(
    "gold_session_metrics",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
        CAST(ts AS DATE) AS event_date,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seq AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered
    )
    SELECT
      CAST(user_id AS VARCHAR) AS user_id,
      CAST(user_id AS VARCHAR) || ':' || CAST(session_seq AS VARCHAR) AS session_id,
      MIN(event_date) AS session_date,
      COUNT(event_id) AS event_count,
      CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS session_revenue,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
      CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_sec,
      CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS session_end_sec,
      CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_duration_sec
    FROM seq
    GROUP BY user_id, session_seq
    """,
)
def gold_session_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-sessionized per-session rollup (03_gold_aggregate.py:166-211
    with sessions derived via 30-min gap, FIXTURES.md §C). Timestamps
    surface as truncated epoch seconds for cross-engine parity."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    sm = gold.gold_session_metrics(ev, customers_clean=None)
    return sm.select(
        "user_id",
        "session_id",
        "session_date",
        "event_count",
        "session_revenue",
        "purchase_count",
        F.col("session_start_ts").cast("long").alias("session_start_sec"),
        F.col("session_end_ts").cast("long").alias("session_end_sec"),
        "session_duration_sec",
    )


@query(
    "gold_session_metrics_attrs",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
        CAST(ts AS DATE) AS event_date,
        CASE WHEN LAG(ts) OVER w IS NULL
               OR CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seq AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM ordered
    ), sess AS (
      SELECT
        CAST(user_id AS VARCHAR) AS user_id,
        CAST(user_id AS VARCHAR) || ':' || CAST(session_seq AS VARCHAR) AS session_id,
        MIN(event_date) AS session_date,
        COUNT(event_id) AS event_count,
        CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS session_revenue
      FROM seq GROUP BY user_id, session_seq
    ), cust AS (
      SELECT CAST(c_custkey AS VARCHAR) AS user_id, TRIM(c_name) AS name,
             LOWER(TRIM(c_mktsegment)) AS segment
      FROM customer WHERE c_custkey IS NOT NULL
    )
    SELECT sess.user_id, session_id, session_date, event_count, session_revenue,
      COALESCE(name, 'UNKNOWN') AS customer_name,
      COALESCE(segment, 'UNKNOWN') AS segment
    FROM sess LEFT JOIN cust USING (user_id)
    """,
)
def gold_session_metrics_attrs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session rollup ⟕ broadcast user-attributes dim with UNKNOWN
    defaults — OP-join-left-attrs (03_gold_aggregate.py:186-201)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    cust = silver.silver_customers(_t(spark, sf_dir, "customer"))
    sm = gold.gold_session_metrics(ev, customers_clean=cust)
    return sm.select(
        "user_id",
        "session_id",
        "session_date",
        "event_count",
        "session_revenue",
        "customer_name",
        "segment",
    )


@query(
    "gold_customer_360",
    oracle="""
    WITH cust AS (
      SELECT CAST(c_custkey AS VARCHAR) AS customer_id, TRIM(c_name) AS name,
             LOWER(TRIM(c_mktsegment)) AS segment
      FROM customer WHERE c_custkey IS NOT NULL
    ), po AS (
      SELECT CAST(o_custkey AS VARCHAR) AS customer_id,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS lifetime_revenue,
        COUNT(*) AS total_orders,
        MAX(CAST(o_orderdate AS DATE)) AS last_order_date,
        MIN(CAST(o_orderdate AS DATE)) AS first_order_date
      FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
    )
    SELECT cust.customer_id, name, segment,
      COALESCE(lifetime_revenue, 0.0) AS lifetime_revenue,
      COALESCE(total_orders, 0) AS total_orders,
      first_order_date, last_order_date,
      date_diff('day', last_order_date, DATE '2026-01-01') AS days_since_last_order,
      CASE WHEN COALESCE(total_orders, 0) != 0
           THEN FLOOR(COALESCE(lifetime_revenue, 0.0) / COALESCE(total_orders, 0) * 100.0 + 0.5) / 100.0
           ELSE NULL END AS avg_order_value,
      CASE WHEN COALESCE(lifetime_revenue, 0.0) >= 2000000.0 THEN 'Platinum VIP'
           WHEN COALESCE(lifetime_revenue, 0.0) >= 1000000.0 THEN 'Gold Member'
           WHEN COALESCE(total_orders, 0) > 0 THEN 'Standard Customer'
           ELSE 'Window Shopper' END AS customer_tier
    FROM cust LEFT JOIN po USING (customer_id)
    """,
)
def gold_customer_360_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-grain rollup + NULL-AOV convention + tier ladder
    (03_gold_aggregate.py:226-272; 04_Customer 360.sql:16-21)."""
    cust = silver.silver_customers(_t(spark, sf_dir, "customer"))
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    return gold.gold_customer_360(cust, orders).drop("acctbal").select(
        "customer_id",
        "name",
        "segment",
        "lifetime_revenue",
        "total_orders",
        "first_order_date",
        "last_order_date",
        "days_since_last_order",
        "avg_order_value",
        "customer_tier",
    )


# ---------------------------------------------------------------------------
# §2.6/2.7 Dashboards (top-k, sorts, union-all, params)
# ---------------------------------------------------------------------------

@query(
    "dash_product_performance",
    oracle="""
    WITH items AS (
      SELECT li.l_partkey, li.l_orderkey, CAST(TRUNC(l_quantity) AS INT) AS quantity,
             l_extendedprice,
             COALESCE(CAST(o.o_orderdate AS DATE), DATE '1970-01-01') AS order_date
      FROM lineitem li LEFT JOIN orders o ON li.l_orderkey = o.o_orderkey
      WHERE li.l_orderkey IS NOT NULL AND CAST(TRUNC(l_quantity) AS INT) > 0
    ), rollup AS (
      SELECT CAST(l_partkey AS VARCHAR) AS product_id,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
        CAST(SUM(quantity) AS BIGINT) AS total_units,
        COUNT(DISTINCT l_orderkey) AS order_count,
        COUNT(*) AS line_count
      FROM items
      WHERE order_date BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      GROUP BY 1
    ), dim AS (
      SELECT CAST(p_partkey AS VARCHAR) AS product_id, TRIM(p_name) AS product_name,
             p_type AS category
      FROM part WHERE p_partkey IS NOT NULL
    )
    SELECT rollup.product_id,
      COALESCE(product_name, 'UNKNOWN') AS product_name,
      COALESCE(category, 'UNKNOWN') AS category,
      total_revenue, total_units, order_count,
      CASE WHEN total_units = 0 THEN 0.0
           ELSE FLOOR(total_revenue / total_units * 100.0 + 0.5) / 100.0 END AS revenue_per_unit,
      CASE WHEN order_count = 0 THEN 0.0
           ELSE FLOOR(CAST(total_units AS DOUBLE) / order_count * 100.0 + 0.5) / 100.0 END AS units_per_order
    FROM rollup LEFT JOIN dim USING (product_id)
    ORDER BY total_revenue DESC, product_id
    LIMIT 100
    """,
)
def dash_product_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """01_product_performance.sql: windowed revenue rollup, safe
    ratios, top-100 (TakeOrderedAndProject)."""
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    items = silver.silver_order_items(_t(spark, sf_dir, "lineitem"), orders)
    prods = silver.silver_products(_t(spark, sf_dir, "part"))
    df = dashboards.product_performance(items, prods)
    return df.drop("line_count") if "line_count" in df.columns else df


@query(
    "dash_sales_overview",
    oracle="""
    SELECT
      CAST(o_orderdate AS DATE) AS order_date,
      FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_revenue,
      COUNT(*) AS order_count,
      COUNT(DISTINCT o_custkey) AS unique_customers,
      FLOOR(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) * 100.0 + 0.5) / 100.0 AS avg_order_value
    FROM orders
    WHERE o_orderkey IS NOT NULL
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY 1
    ORDER BY 1 DESC
    """,
)
def dash_sales_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """02_Sales Overview.sql: daily revenue/orders/customers/AOV."""
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    return dashboards.sales_overview(orders)


@query(
    "dash_site_funnel",
    oracle="""
    SELECT * FROM (
      SELECT '1. Product Views' AS funnel_stage, COUNT(*) AS event_count
      FROM events WHERE event_type = 'view'
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
      UNION ALL
      SELECT '2. Add to Cart', COUNT(*)
      FROM events WHERE event_type = 'click'
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
      UNION ALL
      SELECT '3. Purchases', COUNT(*)
      FROM events WHERE event_type = 'purchase'
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
    ) ORDER BY event_count DESC, funnel_stage
    """,
)
def dash_site_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """03_Site Wide Funnel.sql: labeled grand totals + UNION ALL."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    return dashboards.site_wide_funnel(ev)


@query(
    "dash_customer_360",
    oracle="""
    WITH cust AS (
      SELECT CAST(c_custkey AS VARCHAR) AS customer_id, TRIM(c_name) AS name
      FROM customer WHERE c_custkey IS NOT NULL
    ), po AS (
      SELECT CAST(o_custkey AS VARCHAR) AS customer_id,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS lifetime_revenue,
        COUNT(*) AS total_orders,
        MAX(CAST(o_orderdate AS DATE)) AS last_order_date
      FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
    )
    SELECT cust.customer_id, name,
      CASE WHEN COALESCE(lifetime_revenue, 0.0) >= 2000000.0 THEN 'Platinum VIP'
           WHEN COALESCE(lifetime_revenue, 0.0) >= 1000000.0 THEN 'Gold Member'
           WHEN COALESCE(total_orders, 0) > 0 THEN 'Standard Customer'
           ELSE 'Window Shopper' END AS customer_tier,
      COALESCE(lifetime_revenue, 0.0) AS lifetime_revenue,
      COALESCE(total_orders, 0) AS total_orders,
      CASE WHEN COALESCE(total_orders, 0) != 0
           THEN FLOOR(COALESCE(lifetime_revenue, 0.0) / COALESCE(total_orders, 0) * 100.0 + 0.5) / 100.0
           ELSE NULL END AS avg_order_value,
      last_order_date
    FROM cust LEFT JOIN po USING (customer_id)
    ORDER BY lifetime_revenue DESC, customer_id
    LIMIT 1000
    """,
)
def dash_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """04_Customer 360.sql: tiering + top-1000 by lifetime revenue."""
    cust = silver.silver_customers(_t(spark, sf_dir, "customer"))
    orders = silver.silver_orders(_t(spark, sf_dir, "orders"))
    c360 = gold.gold_customer_360(cust, orders)
    return dashboards.customer_360_dashboard(c360)


# ---------------------------------------------------------------------------
# §2.11 Data-quality assertion queries (each selects *bad* rows)
# ---------------------------------------------------------------------------

@query(
    "dq_notnull_products",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS product_id, p_name AS product_name, p_type AS category
    FROM part WHERE p_name IS NULL OR p_type IS NULL
    """,
)
def dq_notnull_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-dq-notnull (04_data_quality_checks.py:44-50)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").isNull() | F.col("p_type").isNull()).select(
        clean_id("p_partkey").alias("product_id"),
        F.col("p_name").alias("product_name"),
        F.col("p_type").alias("category"),
    )


@query(
    "dq_pk_unique_customer",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS customer_id, COUNT(*) AS n_dups
    FROM customer GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dq_pk_unique_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-dq-pk-unique (04_data_quality_checks.py:61-67)."""
    cust = _t(spark, sf_dir, "customer")
    return duplicate_groups(
        cust.select(clean_id("c_custkey").alias("customer_id")), ["customer_id"]
    )


@query(
    "dq_nonneg_amounts",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS order_id, o_totalprice AS total_usd
    FROM orders WHERE o_totalprice < 0
    """,
)
def dq_nonneg_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-dq-nonneg (04_data_quality_checks.py:78-84)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_totalprice") < 0).select(
        clean_id("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_usd"),
    )


@query(
    "dq_bounded_rates",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS event_date,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count
      FROM events GROUP BY 1
    ), funnel AS (
      SELECT event_date,
        CASE WHEN view_count = 0 THEN 0.0
             ELSE LEAST(100.0, FLOOR(cart_count * 100.0 / view_count * 100.0 + 0.5) / 100.0) END AS view_to_cart_pct,
        CASE WHEN cart_count = 0 THEN 0.0
             ELSE LEAST(100.0, FLOOR(purchase_count * 100.0 / cart_count * 100.0 + 0.5) / 100.0) END AS cart_to_purchase_pct
      FROM daily
    )
    SELECT * FROM funnel
    WHERE view_to_cart_pct > 100 OR cart_to_purchase_pct > 100
    """,
)
def dq_bounded_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-dq-bounded (04_data_quality_checks.py:95-101)."""
    ev = silver.silver_events(_t(spark, sf_dir, "events"))
    funnel = gold.gold_product_funnel(ev)
    return funnel.filter(
        (F.col("view_to_cart_pct") > 100) | (F.col("cart_to_purchase_pct") > 100)
    ).select("event_date", "view_to_cart_pct", "cart_to_purchase_pct")


# ---------------------------------------------------------------------------
# Parameterized SQL (OP-sql-between: named params, Spark ≥3.4)
# ---------------------------------------------------------------------------

@query(
    "op_sql_named_params",
    oracle="""
    SELECT
      CAST(o_orderdate AS DATE) AS order_date,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
      COUNT(*) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE)
          BETWEEN TRY_CAST('1996-06-01' AS DATE) AND TRY_CAST('1996-06-30' AS DATE)
    GROUP BY 1
    """,
)
def op_sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string entry point with named parameters — the reference's
    dashboard execution model (``:start_date``/``:end_date`` +
    TRY_CAST, analysis/dashboard_queries/01_product_performance.sql:26),
    run via ``spark.sql(q, args=...)``."""
    from ..sources.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT
          CAST(o_orderdate AS DATE) AS order_date,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
          COUNT(*) AS order_count
        FROM orders_v
        WHERE CAST(o_orderdate AS DATE)
              BETWEEN TRY_CAST(:start_date AS DATE) AND TRY_CAST(:end_date AS DATE)
        GROUP BY 1
        """,
        args={"start_date": "1996-06-01", "end_date": "1996-06-30"},
    )
