"""The reference's four parameterized dashboard queries
(/root/reference/analysis/dashboard_queries/*.sql), re-expressed as
DataFrame plans over the fixture mapping.

Parameterization follows the reference's ``:start_date``/``:end_date``
named params (Spark ≥3.4 ``spark.sql(q, args=...)`` is the SQL-string
twin; here the params are function arguments). Date-range predicates
are plain column filters so they push into the parquet scan (and prune
partitions on a date-partitioned layout, row groups by their min/max on
a date-sorted one).

Top-k queries use orderBy+limit → Spark plans TakeOrderedAndProject
(true distributed top-k, no global sort). A deterministic tiebreak key
is appended to every ORDER BY feeding a LIMIT so results are stable
across engines/retries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.math import dec_sum, round2, safe_div_null, safe_div_zero


def product_performance(
    items_clean: DataFrame,
    products_clean: DataFrame,
    start_date: str = "1996-01-01",
    end_date: str = "1997-12-31",
    top_n: int = 100,
) -> DataFrame:
    """Top products by revenue in a date window, with safe-ratio KPIs.

    Reference: 01_product_performance.sql (revenue/qty rollup, CASE
    safe-division ratios returning 0.0 on zero denominators, ORDER BY
    total_revenue DESC LIMIT 100).
    """
    in_window = items_clean.filter(
        F.col("order_date").between(
            F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        )
    )
    rollup = in_window.groupBy("product_id").agg(
        dec_sum(F.col("line_total_usd")).alias("total_revenue"),
        F.sum("quantity").cast("long").alias("total_units"),
        F.countDistinct("order_id").alias("order_count"),
        F.count(F.lit(1)).alias("line_count"),
    )
    dim = products_clean.select("product_id", "product_name", "category")
    return (
        rollup.join(F.broadcast(dim), ["product_id"], "left")
        .select(
            "product_id",
            F.coalesce("product_name", F.lit("UNKNOWN")).alias("product_name"),
            F.coalesce("category", F.lit("UNKNOWN")).alias("category"),
            "total_revenue",
            "total_units",
            "order_count",
            safe_div_zero(F.col("total_revenue"), F.col("total_units")).alias(
                "revenue_per_unit"
            ),
            safe_div_zero(
                F.col("total_units").cast("double"), F.col("order_count")
            ).alias("units_per_order"),
        )
        .orderBy(F.col("total_revenue").desc(), F.col("product_id"))
        .limit(top_n)
    )


def sales_overview(
    orders_clean: DataFrame,
    start_date: str = "1996-01-01",
    end_date: str = "1997-12-31",
) -> DataFrame:
    """Daily sales rollup: revenue, orders, customers, AOV.

    Reference: 02_Sales Overview.sql (SUM/COUNT DISTINCT/ROUND per
    day, ORDER BY 1 DESC).
    """
    in_window = orders_clean.filter(
        F.col("order_date").between(
            F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        )
    )
    return (
        in_window.groupBy("order_date")
        .agg(
            round2(dec_sum(F.col("total_usd"))).alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("customer_id").alias("unique_customers"),
            round2(
                dec_sum(F.col("total_usd")) / F.count(F.lit(1))
            ).alias("avg_order_value"),
        )
        .orderBy(F.col("order_date").desc())
    )


def site_wide_funnel(
    events_clean: DataFrame,
    start_date: str = "2024-01-01",
    end_date: str = "2024-01-31",
) -> DataFrame:
    """Three labeled grand-total rows, sorted by count.

    Reference: 03_Site Wide Funnel.sql — per-stage global SUM over the
    date window with `lit` stage labels, UNION ALL, ORDER BY count.
    The reference's three-branch UNION ALL scans the events fact three
    times; the counts are disjoint conditional aggregates of one pass,
    so this computes all three in a single scan and unpivots with
    ``stack`` — identical rows (coalesce keeps the empty-input count 0,
    matching COUNT(*)), one third the I/O.
    Event-type mapping: page_view≅view, add_to_cart≅click.
    """
    in_window = events_clean.filter(
        F.col("event_date").between(
            F.lit(start_date).cast("date"), F.lit(end_date).cast("date")
        )
    )

    def n(event_type: str):
        return F.coalesce(
            F.sum(F.when(F.col("event_type") == event_type, 1).otherwise(0)),
            F.lit(0),
        ).cast("long")

    totals = in_window.agg(
        n("view").alias("_views"),
        n("click").alias("_carts"),
        n("purchase").alias("_purchases"),
    )
    return totals.selectExpr(
        "stack(3, '1. Product Views', _views, '2. Add to Cart', _carts, "
        "'3. Purchases', _purchases) AS (funnel_stage, event_count)"
    ).orderBy(F.col("event_count").desc(), F.col("funnel_stage"))


def customer_360_dashboard(
    customer_360: DataFrame,
    top_n: int = 1000,
) -> DataFrame:
    """Top customers by lifetime revenue with tier + AOV.

    Reference: 04_Customer 360.sql (tier CASE ladder, NULL-AOV
    convention, ORDER BY lifetime_revenue DESC LIMIT 1000).
    """
    return (
        customer_360.select(
            "customer_id",
            "name",
            "customer_tier",
            "lifetime_revenue",
            "total_orders",
            "avg_order_value",
            "last_order_date",
        )
        .orderBy(F.col("lifetime_revenue").desc(), F.col("customer_id"))
        .limit(top_n)
    )
