"""Relational and analytics queries beyond the reference's operator set:
pivot/unpivot, ROLLUP/CUBE grouping sets, semi/anti joins, set
operations, scalar subqueries, window frames, interval and as-of
joins, time-series rollups and gap fill, clickstream paths, funnels
and attribution, customer segmentation (RFM, cohorts, decayed LTV),
market baskets, record linkage, skew handling and robust statistics.

The reference exercises none of these (SURVEY.md §2.7: "No INTERSECT /
EXCEPT / UNION DISTINCT anywhere"; §2.5: row_number is its entire
window surface; its pivot is the conditional-count idiom) — but a user
switching engines expects the full relational vocabulary, so each gets
a first-class, oracle-checked query here.

Cross-engine exactness (the package rules): every money sum — including
WINDOW sums, where double accumulation order differs between engines —
runs in DECIMAL(30,6); day arithmetic uses explicit integer
epoch-days; DuckDB ``GROUPING(a, b)`` produces the same
leftmost-is-MSB bitmask as Spark's ``grouping_id()``. No query here
introduces a single-task global window: a global total order (RFM
ntile) goes through :mod:`..operators.ranking`'s two-pass
range-partitioned rank instead of ``Window.orderBy`` without keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.math import dec_sum
from ..operators.dedupe import keep_latest
from ..operators.frequency import heavy_hitters
from ..operators.ranking import global_row_number, ntile_from_rank
from ..plans import gold
from ..plans.silver import silver_events, silver_orders
from ._core import ORACLES, _t, query


# ---------------------------------------------------------------------------
# JSON extraction (events.props)
# ---------------------------------------------------------------------------

@query(
    "ext_json_extract",
    oracle="""
    SELECT event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS k_avg,
      COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def ext_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the clickstream props column + rollup
    (north-star JSON surface, SURVEY.md §2.8 note)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("k_avg"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Interval / as-of joins, time buckets, salted skew join
# ---------------------------------------------------------------------------

@query(
    "ext_interval_join_errors",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT user_id, event_id AS error_id, epoch_us(ts) AS e_us
      FROM events WHERE event_type = 'error'
    )
    SELECT p.user_id, purchase_id, error_id,
      CAST((e_us - p_us) // 1000000 AS BIGINT) AS lag_sec
    FROM p JOIN e ON p.user_id = e.user_id
      AND e_us >= p_us AND e_us < p_us + 3600000000
    """,
)
def ext_interval_join_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/rangejoin.py): error events landing
    inside the 1-hour window after each purchase by the same user —
    executed as a bucketed hash EQUI-join + refine, never a
    BroadcastNestedLoopJoin. Oracle is the plain inequality join."""
    from ..operators.rangejoin import interval_join

    ev = silver_events(_t(spark, sf_dir, "events"))
    base = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        "event_ts",
    )
    windows = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("event_ts").alias("window_start"),
            (F.col("event_ts") + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
        )
    )
    errors = base.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("event_ts").alias("error_ts"),
    )
    joined = interval_join(
        errors,
        windows,
        keys=["user_id"],
        point_ts="error_ts",
        start_ts="window_start",
        end_ts="window_end",
        bucket_width_sec=3600,
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "error_id",
        F.floor(
            (F.unix_micros("error_ts") - F.unix_micros("window_start"))
            / 1_000_000
        ).cast("long").alias("lag_sec"),
    )


@query(
    "ext_time_bucket_rollup",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_sec,
      event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users,
      CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ext_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-bucket rollup per event type (the hypertable /
    continuous-aggregate pattern): date_trunc bucketing keeps the agg
    a single partial+final pass, and the bucket key is the natural
    partition column for a materialized rollup at scale."""
    ev = silver_events(_t(spark, sf_dir, "events"))
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("event_ts"))
            .cast("long")
            .alias("bucket_sec"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec_sum(F.col("amount_usd")).alias("total_value"),
        )
    )


@query(
    "ext_asof_attribution",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      WHERE event_type = 'view'
    ), p0 AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
        ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
                           ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    ), p AS (SELECT user_id, event_id, value, ts_us FROM p0 WHERE rn = 1)
    SELECT v.user_id, v.event_id,
      CAST(v.ts_us // 1000000 AS BIGINT) AS view_sec,
      p.event_id AS matched_event_id,
      p.value AS matched_value,
      CAST((v.ts_us - p.ts_us) // 1000000 AS BIGINT) AS lag_sec
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND p.ts_us <= v.ts_us
    """,
)
def ext_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every view event attributed to
    the user's most recent purchase at-or-before it. Purchases are
    deduped to one per (user, microsecond) in both engines because
    native ASOF tie-breaking is unspecified; timestamps compare at
    microsecond precision (silver's nanos→micros truncation mirrored
    via epoch_us)."""
    from ..operators.asof import as_of_join

    ev = silver_events(_t(spark, sf_dir, "events"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("event_ts").alias("view_ts"),
    )
    purchases = keep_latest(
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("amount_usd").alias("value"),
            F.col("event_ts").alias("purchase_ts"),
        ),
        ["user_id", "purchase_ts"],
        ["event_id"],
    )
    joined = as_of_join(
        views,
        purchases,
        keys=["user_id"],
        left_ts="view_ts",
        right_ts="purchase_ts",
        right_tiebreak="event_id",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.col("view_ts").cast("long").alias("view_sec"),
        F.col("matched_event_id"),
        F.col("matched_value"),
        (
            F.floor(
                (
                    F.unix_micros("view_ts")
                    - F.unix_micros("matched_purchase_ts")
                )
                / 1_000_000
            ).cast("long")
        ).alias("lag_sec"),
    )


@query(
    "ext_skew_salted_join",
    oracle="""
    SELECT p.p_brand,
      COUNT(*) AS n_items,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def ext_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/skew.py): fact side scattered by a
    deterministic hash salt, dim side exploded ×8, join on (key, salt)
    — the explicit hot-key mitigation for when the dim can't broadcast
    and AQE's skew splitting isn't enough. The oracle is the PLAIN
    join: salting must be result-invisible."""
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(
        li, part, on=["l_partkey"], fact_unique_col="l_orderkey", how="inner",
        salt_buckets=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(F.col("l_extendedprice")).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Extended window functions (beyond the reference's row_number)
# ---------------------------------------------------------------------------

@query(
    "ext_window_funcs",
    oracle="""
    SELECT
      CAST(o_orderkey AS VARCHAR) AS order_id,
      CAST(o_custkey AS VARCHAR) AS customer_id,
      ROW_NUMBER() OVER w AS order_seq,
      RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)) AS date_rank,
      NTILE(4) OVER w AS quartile,
      LAG(o_totalprice) OVER w AS prev_total,
      LEAD(o_totalprice) OVER w AS next_total,
      date_diff('day', LAG(CAST(o_orderdate AS DATE)) OVER w, CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    """,
)
def ext_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank/ntile per-customer order analytics — the
    SURVEY.md §2.5 extension surface (the reference declared but never
    used a session window spec, 03_gold_aggregate.py:33-34)."""
    orders = silver_orders(_t(spark, sf_dir, "orders"))
    # order_id is a normalized STRING id — sort on its numeric value so
    # the total order matches the oracle's BIGINT key ordering.
    order_key = F.col("order_id").cast("long")
    w = Window.partitionBy("customer_id").orderBy("order_date", order_key)
    w_rank = Window.partitionBy("customer_id").orderBy("order_date")
    return orders.select(
        "order_id",
        "customer_id",
        F.row_number().over(w).alias("order_seq"),
        F.rank().over(w_rank).alias("date_rank"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("total_usd").over(w).alias("prev_total"),
        F.lead("total_usd").over(w).alias("next_total"),
        F.datediff(
            F.col("order_date"), F.lag("order_date").over(w)
        ).alias("days_since_prev"),
    )


@query(
    "ext_incremental_rollup",
    oracle="""
    SELECT CAST(FLOOR(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_sec,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ext_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance (operators/rollup.py): the
    hourly rollup computed as ``merge(partial(first half),
    partial(second half))`` — the refresh path that touches only new
    partitions at scale. Additive DECIMAL state makes the merged
    result bit-identical to the one-shot rollup, which is exactly what
    the oracle computes directly."""
    from ..operators.rollup import merge_rollups, partial_rollup

    ev = silver_events(_t(spark, sf_dir, "events")).withColumn(
        "bucket_sec", F.date_trunc("hour", F.col("event_ts")).cast("long")
    )
    halves = [
        ev.filter(F.col("event_date") < "2024-01-15"),
        ev.filter(F.col("event_date") >= "2024-01-15"),
    ]
    states = [
        partial_rollup(
            h,
            ["bucket_sec", "event_type"],
            {"total_value_dec": F.col("amount_usd")},
            count_col="n_events",
        )
        for h in halves
    ]
    merged = merge_rollups(states, ["bucket_sec", "event_type"], count_col="n_events")
    return merged.select(
        "bucket_sec",
        "event_type",
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
    )


_DEC = "decimal(30,6)"


_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------

_PIVOT_CELLS = ",\n      ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}_events"
    for t in _EVENT_TYPES
)


@query(
    "ext_pivot_events",
    oracle=f"""
    SELECT CAST(CAST(user_id AS BIGINT) AS VARCHAR) AS user_id,
      {_PIVOT_CELLS},
      CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE) AS purchase_revenue
    FROM events GROUP BY 1
    """,
)
def ext_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True relational PIVOT: one row per user, one column per event
    type (``groupBy().pivot(values=...)``). Passing the explicit value
    list matters twice over: it skips the driver-side distinct pass
    Spark otherwise runs to discover the columns, and it keeps the
    output schema static — both requirements at 100 TB. The reference
    only ever hand-rolled this with conditional sums
    (03_gold_aggregate.py:48-54)."""
    ev = silver_events(_t(spark, sf_dir, "events"))
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", F.col("amount_usd")).otherwise(0.0).cast(_DEC)).alias("rev"),
        )
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_events")
            for t in _EVENT_TYPES
        ],
        sum(
            (F.coalesce(F.col(f"{t}_rev"), F.lit(0).cast(_DEC)) for t in _EVENT_TYPES),
            F.lit(0).cast(_DEC),
        ).cast("double").alias("purchase_revenue"),
    )


@query(
    "ext_unpivot_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def ext_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) of the lineitem measures via the
    native ``DataFrame.unpivot`` — a single Expand node, one scan, no
    self-union (the UNION-ALL oracle re-reads the table four times;
    the Spark plan must not)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    ).withColumn(
        "metric", F.regexp_replace("metric", "^l_", "")
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP / CUBE
# ---------------------------------------------------------------------------

@query(
    "ext_rollup_revenue",
    oracle="""
    SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS order_year,
      o_orderstatus AS status,
      CAST(GROUPING(CAST(year(CAST(o_orderdate AS DATE)) AS INT), o_orderstatus) AS BIGINT) AS gid,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
      COUNT(*) AS order_count
    FROM orders
    GROUP BY ROLLUP (1, 2)
    """,
)
def ext_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, status): detail + per-year subtotal + grand total
    in ONE aggregation pass (Spark plans a single Expand + partial/final
    HashAggregate — not three scans), with ``grouping_id`` to tell the
    levels apart."""
    orders = _t(spark, sf_dir, "orders")
    year = F.year(F.col("o_orderdate").cast("date")).alias("order_year")
    return (
        orders.select(year, F.col("o_orderstatus").alias("status"), "o_totalprice")
        .rollup("order_year", "status")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dec_sum(F.col("o_totalprice")).alias("total_revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


@query(
    "ext_cube_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
      COUNT(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def ext_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2^2 grouping sets in one
    pass — the TPC-H Q1 surface extended with subtotal planes."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins and set operations
# ---------------------------------------------------------------------------

@query(
    "ext_join_semi_anti",
    oracle="""
    SELECT c_custkey AS customer_id, 'buyer' AS cohort FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND year(CAST(o.o_orderdate AS DATE)) = 1996)
    UNION ALL
    SELECT c_custkey, 'non_buyer' FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND year(CAST(o.o_orderdate AS DATE)) = 1996)
    """,
)
def ext_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI join (EXISTS / NOT EXISTS): 1996 buyers
    vs non-buyers. Semi/anti never duplicate the left side and never
    materialize right-side columns — at scale this is the correct plan
    for existence checks, not a join+distinct."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id")
    )
    orders_96 = (
        _t(spark, sf_dir, "orders")
        .filter(F.year(F.col("o_orderdate").cast("date")) == 1996)
        .select(F.col("o_custkey").alias("customer_id"))
    )
    buyers = cust.join(orders_96, "customer_id", "left_semi").withColumn(
        "cohort", F.lit("buyer")
    )
    non_buyers = cust.join(orders_96, "customer_id", "left_anti").withColumn(
        "cohort", F.lit("non_buyer")
    )
    return buyers.unionByName(non_buyers)


@query(
    "ext_setops_users",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT user_id, 'view_and_purchase' AS cohort FROM (SELECT * FROM v INTERSECT SELECT * FROM p)
    UNION ALL
    SELECT user_id, 'view_only' FROM (SELECT * FROM v EXCEPT SELECT * FROM p)
    """,
)
def ext_setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set ops (SURVEY.md §2.7 gap): users who both
    viewed and purchased vs viewed-only. Spark plans these as
    semi/anti hash joins over pre-aggregated sets."""
    ev = _t(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = viewers.intersect(buyers).withColumn(
        "cohort", F.lit("view_and_purchase")
    )
    view_only = viewers.subtract(buyers).withColumn("cohort", F.lit("view_only"))
    return both.unionByName(view_only)


# ---------------------------------------------------------------------------
# Histogram, per-group top-k, correlated scalar subquery
# ---------------------------------------------------------------------------

# ext_histogram_totals RETIRED (r12) to free a capacity slot for
# ext_delta_widened_read: its fixed-width floor-bin + partial/final
# aggregate shape is strictly subsumed by ext_groupwise_stats /
# ext_winsorized_stats (both stay externally gated), and the binning
# arithmetic is pinned by
# tests/test_dq_and_cleaning.py::test_histogram_fixed_width_bins.


@query(
    "ext_topk_per_group",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
        SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    )
    SELECT p_brand, l_partkey AS part_key,
      CAST(rev_dec AS DOUBLE) AS part_revenue, rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY p_brand
                ORDER BY rev_dec DESC, l_partkey) AS rk
      FROM rev
    ) WHERE rk <= 3
    """,
)
def ext_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by revenue: key-partitioned agg →
    windowed rank. The rank ORDER BY runs on the exact DECIMAL (not
    the double projection) so cross-engine ordering can't diverge on
    sub-ULP ties; partkey breaks exact ties. The part dim joins
    broadcast (plan-asserted for gold models in test_plan_shapes.py)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast(_DEC)).alias("rev_dec"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("rev_dec").desc(), "l_partkey"
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "p_brand",
            F.col("l_partkey").alias("part_key"),
            F.col("rev_dec").cast("double").alias("part_revenue"),
            "rk",
        )
    )


@query(
    "ext_scalar_subquery",
    oracle="""
    SELECT o_orderkey AS order_id, o_custkey AS customer_id,
           o_totalprice AS total
    FROM orders o
    WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def ext_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer's largest order),
    run through the SQL entry point so Catalyst's decorrelation
    rewrites it into an aggregate + join — no per-row re-execution
    (the §4 'built-in: subquery decorrelation' claim, exercised).
    MAX of doubles is order-independent, so no decimal routing is
    needed."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               o_totalprice AS total
        FROM orders_sq o
        WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders_sq o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


# ---------------------------------------------------------------------------
# SCD Type 2 + MERGE upsert (operators/scd.py)
# ---------------------------------------------------------------------------

@query(
    "ext_scd2_user_state",
    oracle="""
    WITH ev AS (
      SELECT CAST(user_id AS BIGINT) AS user_id, event_type AS state,
             epoch_us(ts) AS ts_us, event_id
      FROM events
    ), f AS (
      SELECT user_id, state, ts_us, event_id,
        CASE WHEN state IS DISTINCT FROM
               LAG(state) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
             THEN 1 ELSE 0 END AS chg
      FROM ev
    ), r AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM f
    ), iv AS (
      SELECT user_id, run, MIN(state) AS state, MIN(ts_us) AS valid_from_us
      FROM r GROUP BY 1, 2
    )
    SELECT user_id, state, valid_from_us,
      LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_us,
      LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY run) IS NULL AS is_current
    FROM iv
    """,
)
def ext_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 collapse (operators/scd.py, gaps-and-islands): each
    user's event-type history folded into consecutive-state validity
    intervals with ``valid_from``/``valid_to``/``is_current`` — the
    dimension-history build the reference's overwrite pipeline never
    materializes. Timestamps compare at microseconds; event_id breaks
    ordering ties."""
    from ..operators.scd import scd2_collapse

    ev = silver_events(_t(spark, sf_dir, "events")).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("state"),
        F.unix_micros("event_ts").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    out = scd2_collapse(
        ev,
        key_cols=["user_id"],
        state_cols=["state"],
        order_col="ts_us",
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "state",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "is_current",
    )


@query(
    "ext_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status, o_totalprice AS total
      FROM orders
    ), src AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             o_totalprice * 1.1 AS total
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
      UNION ALL
      SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1997
    )
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.order_id = t.order_id)
    UNION ALL
    SELECT * FROM src
    """,
)
def ext_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (operators/scd.py): a change-set of corrected 1996
    totals (matched → update) plus brand-new 1997-derived keys
    (unmatched → insert) merged into the orders snapshot via
    anti-join ∪ source. The double multiply is IEEE-deterministic, so
    the oracle reproduces updated totals bit-for-bit."""
    from ..operators.scd import merge_upsert

    orders = _t(spark, sf_dir, "orders")
    year = F.year(F.col("o_orderdate").cast("date"))
    target = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    updates = orders.filter(year == 1996).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_totalprice") * 1.1).alias("total"),
    )
    inserts = orders.filter(year == 1997).select(
        (F.col("o_orderkey") + 1000000000).alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    return merge_upsert(target, updates.unionByName(inserts), ["order_id"])


# ---------------------------------------------------------------------------
# IQR outlier fences
# ---------------------------------------------------------------------------

@query(
    "ext_outlier_iqr",
    oracle="""
    WITH q AS (
      SELECT o_orderstatus AS status,
        quantile_cont(o_totalprice, 0.25) AS p25,
        quantile_cont(o_totalprice, 0.75) AS p75
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderkey AS order_id, q.status, o.o_totalprice AS total,
      q.p25 - 0.5 * (q.p75 - q.p25) AS fence_lo,
      q.p75 + 0.5 * (q.p75 - q.p25) AS fence_hi,
      o.o_totalprice > q.p75 + 0.5 * (q.p75 - q.p25) AS is_high
    FROM orders o JOIN q ON o.o_orderstatus = q.status
    WHERE o.o_totalprice < q.p25 - 0.5 * (q.p75 - q.p25)
       OR o.o_totalprice > q.p75 + 0.5 * (q.p75 - q.p25)
    """,
)
def ext_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: exact interpolated
    quartiles (Spark ``percentile`` == DuckDB ``quantile_cont``
    bit-for-bit) → k×IQR fences → flagged rows. k = 0.5 rather than
    Tukey's 1.5 because the synthetic fixture's totals are near-
    uniform (no heavy tail — 1.5 flags nothing at any SF); the
    operator shape is multiplier-independent. The per-group
    quantile frame is tiny and broadcast back onto the facts, so
    flagging costs one scan + one map-side join at any scale."""
    orders = _t(spark, sf_dir, "orders")
    q = (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("p25"),
            F.expr("percentile(o_totalprice, 0.75)").alias("p75"),
        )
    )
    lo = F.col("p25") - 0.5 * (F.col("p75") - F.col("p25"))
    hi = F.col("p75") + 0.5 * (F.col("p75") - F.col("p25"))
    return (
        orders.join(
            F.broadcast(q), orders["o_orderstatus"] == q["status"]
        )
        .filter((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi))
        .select(
            F.col("o_orderkey").alias("order_id"),
            "status",
            F.col("o_totalprice").alias("total"),
            lo.alias("fence_lo"),
            hi.alias("fence_hi"),
            (F.col("o_totalprice") > hi).alias("is_high"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC) + event path analysis
# ---------------------------------------------------------------------------

@query(
    "ext_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status, o_totalprice AS total
      FROM orders
    ), new AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             o_totalprice * 1.1 AS total
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) != 1996
        AND year(CAST(o_orderdate AS DATE)) != 1998
    )
    SELECT COALESCE(o.order_id, n.order_id) AS order_id,
      CASE WHEN o.order_id IS NULL THEN 'insert'
           WHEN n.order_id IS NULL THEN 'delete'
           ELSE 'update' END AS change_type,
      o.total AS old_total, n.total AS new_total
    FROM old o FULL OUTER JOIN new n ON o.order_id = n.order_id
    WHERE o.order_id IS NULL OR n.order_id IS NULL
       OR o.status IS DISTINCT FROM n.status
       OR o.total IS DISTINCT FROM n.total
    """,
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC without a log): full-outer join of two table
    versions keyed on the PK, emitting only insert/update/delete rows
    — the change feed you reconstruct when the source has no CDC. The
    inverse of ext_merge_upsert: diff(old, merge(old, delta)) ≡ delta.
    Here the 'new' version re-prices 1996 orders and drops 1998 ones;
    null-safe comparisons make NULL attribute flips visible."""
    orders = _t(spark, sf_dir, "orders")
    year = F.year(F.col("o_orderdate").cast("date"))
    old = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    new = (
        orders.filter(year == 1996)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderstatus").alias("status"),
            (F.col("o_totalprice") * 1.1).alias("total"),
        )
        .unionByName(
            orders.filter((year != 1996) & (year != 1998)).select(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
            )
        )
    )
    from ..operators.scd import snapshot_diff

    return snapshot_diff(
        old, new, key_cols=["order_id"], value_cols=["status", "total"]
    ).select("order_id", "change_type", "old_total", "new_total")


@query(
    "ext_event_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id,
        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM seq GROUP BY 1
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def ext_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path analysis: each user's full ordered event-type
    sequence (ties broken by event_id for a total order) → top-20
    paths by frequency. The ordered collect is
    ``sort_array(collect_list(struct(...)))`` — per-key arrays, never
    a driver-side collect — and path frequencies are one further
    partial+final agg feeding a TakeOrderedAndProject."""
    ev = silver_events(_t(spark, sf_dir, "events")).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.unix_micros("event_ts").alias("ts_us"),
    )
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts_us", "event_id", "event_type")
                    )
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        seq.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact statistics, ordered funnel, table profile
# ---------------------------------------------------------------------------

@query(
    "ext_stats_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
        COUNT(*) AS n,
        SUM(CAST(l_quantity AS DECIMAL(19,6))) AS sx,
        SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS sy,
        SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
        SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS syy,
        SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
      (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        / (sqrt(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
           * sqrt(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        AS qty_price_corr,
      sqrt((n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / (CAST(n AS DOUBLE) * n)) AS qty_stddev_pop
    FROM m
    """,
)
def ext_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population stddev per group, EXACT across
    engines: built-in ``corr``/``stddev`` accumulate co-moments in
    doubles (order-dependent → never hash-comparable), so the
    co-moments are computed as DECIMAL sums — exact and
    order-independent — and only the final closed-form division runs
    in double (deterministic IEEE on identical inputs). Still one
    partial+final aggregate pass. Oracle gotcha: DuckDB's wide-decimal
    → double cast divides in floating point and is NOT correctly
    rounded (2540249026.99 → ...9900002), so the oracle routes the
    cast through VARCHAR (strtod is correctly rounded, matching
    Spark's decimal→double)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,6)")
    y = F.col("l_extendedprice").cast("decimal(19,6)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return m.select(
        "l_returnflag",
        "n",
        ((n * sxy - sx * sy)
         / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
         ).alias("qty_price_corr"),
        F.sqrt((n * sxx - sx * sx) / (n.cast("double") * n)).alias(
            "qty_stddev_pop"
        ),
    )


@query(
    "ext_ordered_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
      FROM events e JOIN v ON e.user_id = v.user_id AND epoch_us(e.ts) > v.v_us
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
      FROM events e JOIN c ON e.user_id = c.user_id AND epoch_us(e.ts) > c.c_us
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT v.user_id,
      v.v_us // 1000000 AS first_view_sec,
      c.c_us // 1000000 AS first_click_sec,
      p.p_us // 1000000 AS first_purchase_sec,
      c.user_id IS NOT NULL AS reached_click,
      p.user_id IS NOT NULL AS reached_purchase
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def ext_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-sensitive conversion funnel: first view, first click
    STRICTLY AFTER that view, first purchase strictly after that click
    — the sequence-matching funnel (the reference's funnel counts
    stages independently, analysis/dashboard_queries/03:4-18, so a
    purchase before any view still counts; this one requires the
    v→c→p ordering). Each stage is a key-partitioned min-agg joined
    back on the key — three shuffles on user_id total, no windows over
    raw events."""
    ev = silver_events(_t(spark, sf_dir, "events")).select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.unix_micros("event_ts").alias("ts_us"),
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("v_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts_us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_us"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.floor(F.col("v_us") / 1_000_000).cast("long").alias("first_view_sec"),
            F.floor(F.col("c_us") / 1_000_000).cast("long").alias("first_click_sec"),
            F.floor(F.col("p_us") / 1_000_000).cast("long").alias("first_purchase_sec"),
            F.col("c_us").isNotNull().alias("reached_click"),
            F.col("p_us").isNotNull().alias("reached_purchase"),
        )
    )


# ext_profile_orders RETIRED (r12) to free a capacity slot for
# ext_delta_identity: its single partial+final aggregate shape is
# strictly subsumed by the externally-gated ext_groupwise_stats /
# ext_winsorized_stats, and operators/profile.py's one-pass
# nulls/min-max contract is pinned by
# tests/test_dq_and_cleaning.py::test_profile_table_one_pass.


# ---------------------------------------------------------------------------
# Z-order layout + blocked fuzzy join (operators/zorder.py, linkage.py)
# ---------------------------------------------------------------------------

_Z_BITS = 10


_Z_TERMS = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@query(
    "ext_zorder_layout",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
        o_custkey % 1024 AS x,
        datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
      FROM orders
    )
    SELECT o_orderkey, CAST(x AS BIGINT) AS cust_bucket,
      CAST(y AS BIGINT) AS day_bucket,
      CAST({_Z_TERMS} AS BIGINT) AS zvalue
    FROM b
    """,
)
def ext_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (operators/zorder.py): customer
    and order-day buckets bit-interleaved into one sort key, so a
    z-sorted file layout carries tight min/max on BOTH dimensions and
    parquet skipping fires for either predicate — what date
    partitioning alone can't give. Pure shift/and arithmetic,
    reproduced bit-for-bit by the oracle; the locality property itself
    is asserted in tests/test_zorder.py."""
    from ..operators.zorder import z_value

    orders = _t(spark, sf_dir, "orders")
    x = F.pmod(F.col("o_custkey"), F.lit(1024)).cast("long")
    y = F.pmod(
        F.unix_date(F.col("o_orderdate").cast("date")), F.lit(1024)
    ).cast("long")
    return orders.select(
        "o_orderkey",
        x.alias("cust_bucket"),
        y.alias("day_bucket"),
        z_value([x, y], bits=_Z_BITS).alias("zvalue"),
    )


@query(
    "ext_fuzzy_blocked_join",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      a.c_name AS text_a, b.c_name AS text_b,
      CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def ext_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py): near-identical customer
    names within a nation block — equi-join on the blocking key (hash
    join, no cross product), exact levenshtein refine (verified
    bit-compatible across engines). The LSH-free end of the fuzzy-
    matching spectrum; blocking selectivity is the scale knob."""
    from ..operators.linkage import blocked_fuzzy_join

    cust = _t(spark, sf_dir, "customer")
    return blocked_fuzzy_join(
        cust,
        id_col="c_custkey",
        text_col="c_name",
        block_cols=["c_nationkey"],
        max_distance=1,
    ).select("id_a", "id_b", "text_a", "text_b", "distance")


# ---------------------------------------------------------------------------
# Window frames: moving + cumulative aggregates
# ---------------------------------------------------------------------------

# ext_moving_revenue RETIRED (r13) to free a capacity slot for
# ext_delta_v2_checkpoint: its explicit-frame surface (rangeBetween
# on integer epoch-days + rowsBetween over a days-not-rows rollup) is
# subsumed by ext_window_funcs / ext_running_gold_totals (both stay
# externally gated), and the trailing-frame arithmetic is pinned by
# tests/test_dq_and_cleaning.py::test_moving_frame_range_between.


@query(
    "ext_running_gold_totals",
    # the daily-metrics CTE is the registered gold model's own oracle
    oracle=f"""
    WITH dm AS ({ORACLES['gold_daily_metrics']})
    SELECT event_date, gross_revenue,
      CAST(SUM(CAST(gross_revenue AS DECIMAL(30,6))) OVER w_run AS DOUBLE)
        AS run_revenue,
      CAST(SUM(view_count) OVER w_run AS BIGINT) AS run_views,
      FIRST_VALUE(gross_revenue) OVER w_all AS month_open_revenue,
      LAST_VALUE(gross_revenue) OVER w_all AS month_close_revenue,
      MAX(gross_revenue) OVER w_prior AS prior_peak_revenue
    FROM dm
    WINDOW
      w_run AS (PARTITION BY date_trunc('month', event_date)
                ORDER BY event_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_all AS (PARTITION BY date_trunc('month', event_date)
                ORDER BY event_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      w_prior AS (PARTITION BY date_trunc('month', event_date)
                  ORDER BY event_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
)
def ext_running_gold_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals and open/close/prior-peak frames over the gold
    daily model — the ``rowsBetween`` surface a BI user reaches for on
    the reference's gold tables (month-to-date revenue, month open vs
    close, "previous record day"): unbounded-preceding running sums,
    ``first_value``/``last_value`` over the full-partition frame, and
    a MAX over ``(unbounded, -1)`` that excludes the current row (the
    1-PRECEDING upper bound plays SQL's EXCLUDE CURRENT ROW, which
    Spark frames don't spell natively). The running money sum stays in
    DECIMAL through the frame so accumulation order (running scan vs
    segment tree) cannot change the double. Windows partition by month
    over the DATE-GRAIN aggregate — cardinality is days, not corpus
    rows, so no partition is ever large at any data scale, and the
    month key bounds each task's frame besides."""
    ev = silver_events(_t(spark, sf_dir, "events"))
    orders = silver_orders(_t(spark, sf_dir, "orders"))
    dm = gold.gold_daily_metrics(ev, orders)
    month = F.trunc("event_date", "month")
    w_run = (
        Window.partitionBy(month)
        .orderBy("event_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy(month)
        .orderBy("event_date")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_prior = (
        Window.partitionBy(month)
        .orderBy("event_date")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return dm.select(
        "event_date",
        "gross_revenue",
        F.sum(F.col("gross_revenue").cast(_DEC))
        .over(w_run)
        .cast("double")
        .alias("run_revenue"),
        F.sum("view_count").over(w_run).cast("long").alias("run_views"),
        F.first("gross_revenue").over(w_all).alias("month_open_revenue"),
        F.last("gross_revenue").over(w_all).alias("month_close_revenue"),
        F.max("gross_revenue").over(w_prior).alias("prior_peak_revenue"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters, group-wise staples, URL canonicalization, cohorts
# ---------------------------------------------------------------------------

@query(
    "ext_heavy_hitters",
    oracle="""
    WITH items AS (SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
    tot AS (SELECT COUNT(*) AS n FROM items)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS item_count
    FROM items CROSS JOIN tot
    GROUP BY item, n
    HAVING COUNT(*) >= ceil(0.0005 * n)
    """,
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (frequency ≥ ⌈0.0005·N⌉) over the lineitem
    part key via the two-pass plan (operators/frequency.py): a fully
    JVM per-partition local-threshold candidate pass (superset by
    pigeonhole; ≤ P/φ candidates), then exact verification of
    candidates only. The output is bit-identical to plain GROUP BY +
    HAVING — which is exactly what the oracle runs — while the verify
    shuffle only moves candidate rows. The Misra-Gries Arrow pass
    remains as the bounded_memory=True alternative."""
    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", phi=0.0005)


@query(
    "ext_groupwise_stats",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment AS segment,
        COUNT(*) AS n_customers,
        array_to_string(
          list_transform(list_sort(list(c_custkey))[1:10],
                         x -> CAST(x AS VARCHAR)), ',') AS ids_sample,
        quantile_cont(c_acctbal, 0.5) AS median_acctbal
      FROM customer GROUP BY 1
    ),
    nation_counts AS (
      SELECT c_mktsegment AS segment, c_nationkey,
             COUNT(*) AS cnt,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY COUNT(*) DESC, c_nationkey
             ) AS rn
      FROM customer GROUP BY 1, 2
    )
    SELECT b.segment, b.n_customers, b.ids_sample, b.median_acctbal,
           CAST(n.c_nationkey AS INT) AS mode_nation
    FROM base b JOIN nation_counts n
      ON b.segment = n.segment AND n.rn = 1
    """,
)
def ext_groupwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise SQL-parity staples a switcher reaches for on day
    one: ordered string aggregation (capped sample), exact
    interpolated median (Spark ``percentile`` == DuckDB
    ``quantile_cont``, proven bit-exact), and a DETERMINISTIC mode —
    both engines leave bare mode()'s ties unspecified, so it is
    computed as count + row_number with a (freq DESC, key ASC)
    tiebreak. One partial+final agg pass plus a tiny per-(segment,
    nation) count for the mode: scales as plain hash aggregation."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    base = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("c_custkey")), 1, 10),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("ids_sample"),
        F.expr("percentile(c_acctbal, 0.5)").alias("median_acctbal"),
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("cnt").desc(), F.col("c_nationkey")
    )
    mode = (
        cust.groupBy(
            F.col("c_mktsegment").alias("segment"), "c_nationkey"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("segment", F.col("c_nationkey").cast("int").alias("mode_nation"))
    )
    return base.join(mode, ["segment"])


@query(
    "ext_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT event_id,
        CASE WHEN event_id % 2 = 0
          THEN 'HTTPS://Shop.Example.COM:443/item/' || CAST(event_id % 500 AS VARCHAR)
               || '?utm_source=mail&ref=' || CAST(user_id AS VARCHAR) || '&b=2&a=1#frag'
          ELSE 'http://Shop.Example.COM:8080/item/' || CAST(event_id % 500 AS VARCHAR) || '?a=1'
        END AS url
      FROM events
    ),
    parts AS (
      SELECT event_id, url,
        regexp_extract(url, '^([^#]*)', 1) AS base
      FROM raw
    ),
    split_parts AS (
      SELECT event_id, url,
        lower(regexp_extract(base, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(regexp_extract(base, '^[A-Za-z]+://([^/?]+)', 1), '^([^:]+)', 1)) AS host,
        regexp_extract(regexp_extract(base, '^[A-Za-z]+://([^/?]+)', 1), ':([0-9]+)$', 1) AS port,
        regexp_extract(base, '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path,
        array_to_string(list_sort(list_filter(
          string_split(regexp_extract(base, '\\?(.*)$', 1), '&'),
          p -> p != '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref=')
               AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'fbclid='))), '&') AS q
      FROM parts
    )
    SELECT event_id, host, path,
      scheme || '://' || host ||
      CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                OR (scheme = 'http' AND port = '80')
           THEN '' ELSE ':' || port END ||
      path ||
      CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
    FROM split_parts
    """,
)
def ext_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/web.py) over synthesized dirty
    URLs — mixed-case scheme/host, default and non-default ports,
    tracking params, unsorted query, fragments — the identity-collapse
    step before content hashing in a crawled-corpus dedup ladder.
    Input URLs are synthesized deterministically from event columns
    (same precedent as op_clean_id's dirty ids: the op under test is
    the cleansing, not the fixture)."""
    from ..functions import web

    ev = _t(spark, sf_dir, "events")
    item = (F.col("event_id") % 500).cast("string")
    url = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://Shop.Example.COM:443/item/"),
            item,
            F.lit("?utm_source=mail&ref="),
            F.col("user_id").cast("string"),
            F.lit("&b=2&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://Shop.Example.COM:8080/item/"), item, F.lit("?a=1")
        )
    )
    with_url = ev.select("event_id", url.alias("url"))
    return with_url.select(
        "event_id",
        web.url_host(F.col("url")).alias("host"),
        web.url_path(F.col("url")).alias("path"),
        web.canonical_url(F.col("url")).alias("canonical_url"),
    )


@query(
    "ext_cohort_retention",
    # ISO week truncation (Monday) agrees between Spark date_trunc and
    # DuckDB date_trunc; offsets are integer floor-divided day gaps.
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
        CAST((CAST(e.ts AS DATE) - f.cohort_week) // 7 AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity
    WHERE week_offset <= 8
    GROUP BY 1, 2
    """,
)
def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the clickstream: users are
    cohorted by the ISO week of their first event; each later active
    week increments the (cohort, offset) cell — the standard retention
    triangle behind every growth dashboard, extending the reference's
    BI family (SURVEY §2.6) with a two-level self-referencing
    aggregate. Plan: one min-aggregation on user, one join back on the
    same key (co-partitioned — the first shuffle's partitioning is
    reused), one distinct + count. Offsets are capped at 8 weeks to
    bound the output, not the work."""
    from ..plans.silver import silver_events

    ev = silver_events(_t(spark, sf_dir, "events"))
    ed = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_ts").cast("date").alias("event_date"),
    )
    firsts = ed.groupBy("user_id").agg(
        F.date_trunc("week", F.min("event_date")).cast("date").alias("cohort_week")
    )
    activity = (
        ed.join(firsts, ["user_id"])
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.col("event_date"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 8)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# ---------------------------------------------------------------------------
# RFM segmentation over the customer dimension
# ---------------------------------------------------------------------------


@query(
    "ext_rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    c AS (
      SELECT o_custkey AS custkey,
        CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT maxd FROM mx)) AS BIGINT) AS recency_days,
        CAST(COUNT(*) AS BIGINT) AS frequency,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS monetary
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT *,
        ntile(4) OVER (ORDER BY recency_days, custkey) AS r_tile,
        ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f_tile,
        ntile(4) OVER (ORDER BY monetary DESC, custkey) AS m_tile
      FROM c
    )
    SELECT custkey, recency_days, frequency, monetary,
      CAST(r_tile AS INTEGER) AS r_tile,
      CAST(f_tile AS INTEGER) AS f_tile,
      CAST(m_tile AS INTEGER) AS m_tile,
      CAST(r_tile * 100 + f_tile * 10 + m_tile AS BIGINT) AS rfm_code,
      CASE
        WHEN r_tile <= 2 AND f_tile <= 2 AND m_tile <= 2 THEN 'core'
        WHEN r_tile >= 3 AND f_tile <= 2 THEN 'at_risk'
        WHEN r_tile <= 2 AND f_tile >= 3 THEN 'promising'
        ELSE 'hibernating'
      END AS segment
    FROM t
    """,
)
def ext_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the staple e-commerce customer-value model. Each customer gets an
    NTILE(4) bucket per dimension (1 = best: most recent, most
    frequent, highest spend) and a coarse lifecycle label.

    Scale shape: the fact-side work is one groupBy on the customer
    key; tiling then runs over the *aggregated dimension* (one row
    per customer). Even there no single-task global window is used:
    each NTILE goes through operators/ranking.py —
    ``repartitionByRange`` + per-partition row_number + broadcast
    prefix offsets — and ``ntile_from_rank`` reproduces SQL NTILE
    bucket-size semantics exactly (first n%4 buckets take the extra
    row), so the output is bit-identical to the oracle's native
    ntile while every stage stays parallel. Monetary sums route
    through DECIMAL(30,6) for order independence; ties in every
    ORDER BY are broken by custkey.
    """
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("last_date"),
        F.count(F.lit(1)).alias("frequency"),
        dec_sum(F.col("o_totalprice")).alias("monetary"),
    )
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    n = agg.agg(F.count(F.lit(1)).alias("n"))
    c = (
        agg.crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("maxd", "last_date").cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
        .crossJoin(F.broadcast(n))
    )
    tiled = c
    for tile_col, order_cols in (
        ("r_tile", [F.col("recency_days"), F.col("custkey")]),
        ("f_tile", [(-F.col("frequency")).alias("_neg"), F.col("custkey")]),
        ("m_tile", [(-F.col("monetary")).alias("_neg"), F.col("custkey")]),
    ):
        tiled = global_row_number(
            tiled, order_cols, rank_col="_rank"
        ).withColumn(
            tile_col, ntile_from_rank(F.col("_rank"), F.col("n"), 4)
        ).drop("_rank")
    r, f, m = F.col("r_tile"), F.col("f_tile"), F.col("m_tile")
    return tiled.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_tile",
        "f_tile",
        "m_tile",
        (r * 100 + f * 10 + m).cast("long").alias("rfm_code"),
        F.when((r <= 2) & (f <= 2) & (m <= 2), "core")
        .when((r >= 3) & (f <= 2), "at_risk")
        .when((r <= 2) & (f >= 3), "promising")
        .otherwise("hibernating")
        .alias("segment"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------


@query(
    "ext_market_basket",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    item AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY pk),
    tot AS (SELECT COUNT(DISTINCT ok) AS total FROM li),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS pair_count
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    )
    SELECT part_a, part_b,
      CAST(pair_count AS BIGINT) AS pair_count,
      CAST(ia.cnt AS BIGINT) AS count_a,
      CAST(ib.cnt AS BIGINT) AS count_b,
      CAST(pair_count * 1000000 // ia.cnt AS BIGINT) AS conf_a_b_micros,
      CAST(pair_count * 1000000 // ib.cnt AS BIGINT) AS conf_b_a_micros,
      CAST((pair_count * total * 1000000) // (ia.cnt * ib.cnt) AS BIGINT)
        AS lift_micros
    FROM pairs
    JOIN item ia ON part_a = ia.pk
    JOIN item ib ON part_b = ib.pk
    CROSS JOIN tot
    WHERE pair_count >= 2
    """,
)
def ext_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every part pair
    co-purchased in >= 2 orders, emit support (pair count), per-item
    counts, confidence both directions, and lift — all in floor-
    divided integer micro-units so the scores are exact BIGINT math
    in both engines (a float division would be bit-fragile).

    Scale shape: the basket self-join is an equi-join on the order
    key, so candidate pairs are generated per order — cost is
    Σ basket² per order, bounded by basket size, never a global
    cartesian. Pair counts shuffle on the (a, b) key; the item-count
    and grand-total sides are dimension-bounded and broadcast. Skew:
    a pathological mega-basket quadratically inflates its own order
    key — real pipelines cap basket size first; baskets here are
    bounded by data construction.
    """
    # r14: basket-aggregated build (the shape PageRank's edge build
    # proved in r13). ONE map-combined collect_set per order replaces
    # both the (ok, pk) distinct exchange and the fact-table self-join
    # — collect_set dedups within the basket, so `li` re-derived from
    # the basket rows is exactly the old DISTINCT relation, and pair
    # generation explodes map-side from each basket (k(k−1)/2 rows per
    # order, bounded by basket size — never a global cartesian). All
    # three consumers (pairs, item counts, grand total) hang off the
    # same basket aggregate, so its exchange is planned once and
    # reused. A/B at sf0.1: 2.26s → 1.43s median (identical output,
    # 3,573 rows).
    # ASSUMES l_partkey is never NULL (pinned by
    # tests/test_registry_oracle.py::test_lineitem_partkey_non_null):
    # collect_set drops NULLs, while the oracle's DISTINCT (ok, pk)
    # relation keeps (ok, NULL) rows, so an order whose part keys were
    # all NULL would count toward the oracle's `total` (lift) only.
    raw = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    baskets = raw.groupBy("ok").agg(F.collect_set("pk").alias("ps"))
    li = baskets.select(F.explode("ps").alias("pk"), "ok")
    item = li.groupBy("pk").agg(F.count(F.lit(1)).alias("cnt"))
    tot = li.agg(F.countDistinct("ok").alias("total"))
    pairs = (
        baskets.select(F.explode("ps").alias("part_a"), "ps")
        .select("part_a", F.explode("ps").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= 2)
    )
    ia = F.broadcast(item.select(F.col("pk"), F.col("cnt").alias("count_a")))
    ib = F.broadcast(item.select(F.col("pk"), F.col("cnt").alias("count_b")))
    return (
        pairs.join(ia, pairs["part_a"] == ia["pk"])
        .drop("pk")
        .join(ib, pairs["part_b"] == ib["pk"])
        .drop("pk")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_count",
            "count_a",
            "count_b",
            F.expr("pair_count * 1000000L DIV count_a").alias(
                "conf_a_b_micros"
            ),
            F.expr("pair_count * 1000000L DIV count_b").alias(
                "conf_b_a_micros"
            ),
            F.expr(
                "(pair_count * total * 1000000L) DIV (count_a * count_b)"
            ).alias("lift_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood record-linkage blocking
# ---------------------------------------------------------------------------

_SNM_WINDOW = 3


_SNM_MAX_DIST = 6


@query(
    "ext_dedup_sorted_neighborhood",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, p_name,
             lower(regexp_replace(p_name, '[^a-z0-9]', '', 'g')) AS k
      FROM part
    ),
    r AS (
      SELECT *, substr(k, 1, 4) AS block,
        ROW_NUMBER() OVER (PARTITION BY substr(k, 1, 4)
                           ORDER BY k, p_partkey) AS rn
      FROM p
    )
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
      a.p_name AS name_a, b.p_name AS name_b,
      CAST(b.rn - a.rn AS BIGINT) AS neighbor_gap,
      CAST(levenshtein(a.k, b.k) AS BIGINT) AS edit_distance
    FROM r a JOIN r b
      ON a.block = b.block AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_WINDOW}
    WHERE levenshtein(a.k, b.k) <= {_SNM_MAX_DIST}
    """,
)
def ext_dedup_sorted_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocked sorted-neighborhood record linkage (the classic SNM
    alternative to LSH for entity resolution): normalize the name,
    sort within a blocking key (normalized-name prefix), and compare
    each record only to its 3 downstream neighbors, keeping pairs
    within Levenshtein distance 6 of the normalized keys.

    Scale shape: the sort and row_number are partitioned BY BLOCK —
    never a global single-task window — and the neighbor pairing is a
    pure equi-join on (block, rn) generated by exploding the window's
    neighbor offsets, so Catalyst plans a hash/sort-merge join with
    no range predicate. Comparisons are O(n·w) instead of O(n²).
    Tradeoff stated up front: near-duplicates whose normalized keys
    diverge in the first 4 chars land in different blocks and are
    missed — standard SNM practice is a second pass with a different
    key (e.g. reversed), which composes as a UNION of this operator.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.lower(F.regexp_replace("p_name", "[^a-z0-9]", "")).alias("k"),
    )
    r = p.withColumn("block", F.substring("k", 1, 4)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("block").orderBy("k", "p_partkey")
        ),
    )
    left = r.select(
        F.col("block"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
        F.col("k").alias("k_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + _SNM_WINDOW)
        ).alias("rn"),
    )
    right = r.select(
        "block",
        "rn",
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("k").alias("k_b"),
    )
    # inner join on (block, rn): offsets past a block's last rank
    # simply find no partner, which is the window truncation SNM wants
    joined = left.join(right, ["block", "rn"])
    return (
        joined.withColumn(
            "edit_distance", F.levenshtein("k_a", "k_b").cast("long")
        )
        .filter(F.col("edit_distance") <= _SNM_MAX_DIST)
        .select(
            "part_a",
            "part_b",
            "name_a",
            "name_b",
            (F.col("rn") - F.col("rn_a")).cast("long").alias("neighbor_gap"),
            "edit_distance",
        )
    )


# ---------------------------------------------------------------------------
# Calendar gap fill + forward fill (time-series densification)
# ---------------------------------------------------------------------------


@query(
    "ext_gapfill_daily",
    oracle="""
    WITH li AS (
      SELECT l_partkey AS part_key, CAST(l_shipdate AS DATE) AS day,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        CAST(COUNT(*) AS BIGINT) AS n_ship
      FROM lineitem WHERE l_partkey < 20 GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS mind, MAX(day) AS maxd FROM li),
    cal AS (
      SELECT CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS DATE)
        AS day
      FROM bounds
    ),
    grid AS (
      SELECT p.part_key, c.day
      FROM (SELECT DISTINCT part_key FROM li) p CROSS JOIN cal c
    )
    SELECT g.part_key, g.day,
      COALESCE(li.n_ship, 0) AS n_ship,
      li.qty AS qty,
      last_value(li.qty IGNORE NULLS) OVER (
        PARTITION BY g.part_key ORDER BY g.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qty_ffill
    FROM grid g LEFT JOIN li ON g.part_key = li.part_key AND g.day = li.day
    """,
)
def ext_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification — the hypertable/`time_bucket_gapfill`
    staple: per-part daily shipment series densified onto the full
    calendar (missing days materialized), counts zero-filled and
    quantity forward-filled from the last observed day (null before
    the first observation — locf, not zero-imputation).

    Scale shape: the fact scan collapses to a (part, day) aggregate
    first; the calendar is one `sequence` off a broadcast 2-value
    bounds row, cross-joined with the part dimension — grid size is
    dims x days, independent of fact row count. The forward fill is a
    window PARTITIONED BY part (parallel across parts, frame bounded
    by the calendar length). The part filter keeps the demo grid
    bounded; at 100 TB the same plan runs per part-bucket.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 20)
        .groupBy(
            F.col("l_partkey").alias("part_key"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.count(F.lit(1)).alias("n_ship"),
        )
    )
    bounds = li.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    cal = bounds.select(
        F.explode(
            F.sequence("mind", "maxd", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    grid = li.select("part_key").distinct().crossJoin(F.broadcast(cal))
    joined = grid.join(li, ["part_key", "day"], "left")
    w = (
        Window.partitionBy("part_key")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "part_key",
        "day",
        F.coalesce(F.col("n_ship"), F.lit(0)).cast("long").alias("n_ship"),
        "qty",
        F.last("qty", ignorenulls=True).over(w).alias("qty_ffill"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event sequences
# ---------------------------------------------------------------------------


@query(
    "ext_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type AS curr,
        lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    t AS (
      SELECT prev, curr, CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev, SUM(n) AS total FROM t GROUP BY 1)
    SELECT t.prev, t.curr, t.n,
      CAST(tot.total AS BIGINT) AS from_total,
      CAST(t.n * 1000000 // tot.total AS BIGINT) AS prob_micros
    FROM t JOIN tot ON t.prev = tot.prev
    """,
)
def ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: count (previous event_type -> current event_type) pairs
    and the per-source transition probability in floor-divided integer
    micro-units (exact BIGINT in both engines). The sequence order is
    total: ts with event_id tiebreak.

    Scale shape: the lag window is PARTITIONED BY user (parallel,
    frame = one row back); the transition count shuffles on the
    (prev, curr) pair, whose cardinality is |event types|^2 —
    dimension-bounded, so per-source totals re-aggregate from the
    tiny transition table rather than rescanning events, and the
    totals join is broadcast.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
    )
    t = (
        s.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("curr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = t.groupBy("prev").agg(F.sum("n").alias("from_total"))
    return (
        t.join(F.broadcast(tot), "prev")
        .select(
            "prev",
            "curr",
            "n",
            "from_total",
            F.expr("n * 1000000L DIV from_total").alias("prob_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis (shuffle health report)
# ---------------------------------------------------------------------------


def _skew_oracle_one(table: str, key: str) -> str:
    return f"""
    SELECT '{table}.{key}' AS key_name,
      CAST(SUM(cnt) AS BIGINT) AS n_rows,
      CAST(COUNT(*) AS BIGINT) AS n_keys,
      CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      CAST(MAX(cnt) * 1000000 // SUM(cnt) AS BIGINT) AS top_share_micros,
      quantile_cont(cnt, 0.5) AS p50_cnt,
      quantile_cont(cnt, 0.99) AS p99_cnt
    FROM (SELECT {key}, COUNT(*) AS cnt FROM {table} GROUP BY 1)
    """


_SKEW_KEYS = [
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_orderkey"),
    ("events", "user_id"),
]


@query(
    "ext_skew_diagnosis",
    oracle=" UNION ALL ".join(_skew_oracle_one(t, k) for t, k in _SKEW_KEYS),
)
def ext_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health report for the candidate join/aggregation keys —
    the diagnostic you run BEFORE picking salting (ext_skew_salted_
    join) or AQE skew-join thresholds on a new 100 TB table: per key,
    total rows, distinct keys, the heaviest key's row count and its
    share of the table in integer micro-units, and the p50/p99 of the
    per-key count distribution (a p99/p50 far above 1 = skewed).

    Scale shape: one count aggregation per key (the same shuffle the
    real join would do, so the diagnosis measures exactly what the
    join will see) followed by a second aggregation over the KEY
    relation (|keys| rows, with map-side partials); the final report
    is a 4-row union. Exact percentiles on the count distribution use
    the percentile == quantile_cont parity proven in
    ext_text_length_quantiles; top-share is floor-divided BIGINT.
    """
    parts = []
    for table, key in _SKEW_KEYS:
        cnt = _t(spark, sf_dir, table).groupBy(key).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        parts.append(
            cnt.agg(
                F.lit(f"{table}.{key}").alias("key_name"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.max("cnt").cast("long").alias("max_cnt"),
                F.expr("max(cnt) * 1000000L DIV sum(cnt)").alias(
                    "top_share_micros"
                ),
                F.expr("percentile(cnt, 0.5D)").alias("p50_cnt"),
                F.expr("percentile(cnt, 0.99D)").alias("p99_cnt"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Multi-touch attribution with exact integer credit splitting
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 86_400_000_000  # 1 day


@query(
    "ext_multitouch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        epoch_us(ts) AS t_us
      FROM events WHERE event_type IN ('view', 'click')
    ),
    j AS (
      SELECT p.user_id, purchase_id, touch_id, touch_type, t_us,
        COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches,
        ROW_NUMBER() OVER (
          PARTITION BY purchase_id ORDER BY t_us, touch_id) AS rn
      FROM p JOIN t ON p.user_id = t.user_id
        AND t_us < p_us AND t_us >= p_us - {_ATTR_WINDOW_US}
    )
    SELECT user_id, purchase_id, touch_id, touch_type,
      CAST(n_touches AS BIGINT) AS n_touches,
      CAST(CASE WHEN rn = 1
        THEN 1000000 - (n_touches - 1) * (1000000 // n_touches)
        ELSE 1000000 // n_touches END AS BIGINT) AS credit_micros
    FROM j
    """,
)
def ext_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click by the same
    user in the day before a purchase shares the purchase's credit
    equally — in integer micro-units, with the floor-division
    remainder assigned to the EARLIEST touch so each purchase's
    credits sum to exactly 1,000,000 (the invariant float splitting
    can't give you; ties broken by touch id).

    Scale shape: the touch-to-purchase pairing is an equi-join on the
    user key with the day-window as a residual predicate — per-user
    work, never cross-user; both windows (touch count, earliest-touch
    rank) are PARTITIONED BY purchase, frames bounded by touches per
    purchase-day. The same pattern at 100 TB pre-buckets both sides
    by user (sources/bucketing) to skip the shuffle entirely.
    """
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("p_us"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    j = p.join(t, ["user_id"]).filter(
        (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - _ATTR_WINDOW_US)
    )
    wp = Window.partitionBy("purchase_id")
    j = j.select(
        "user_id",
        "purchase_id",
        "touch_id",
        "touch_type",
        F.count(F.lit(1)).over(wp).cast("long").alias("n_touches"),
        F.row_number()
        .over(wp.orderBy("t_us", "touch_id"))
        .alias("rn"),
    )
    even = F.expr("1000000L DIV n_touches")
    return j.select(
        "user_id",
        "purchase_id",
        "touch_id",
        "touch_type",
        "n_touches",
        F.when(
            F.col("rn") == 1,
            F.lit(1_000_000) - (F.col("n_touches") - 1) * even,
        )
        .otherwise(even)
        .cast("long")
        .alias("credit_micros"),
    )


# ---------------------------------------------------------------------------
# Peak concurrency via sweep line (+1/-1 boundary events)
# ---------------------------------------------------------------------------


@query(
    "ext_peak_concurrency",
    oracle="""
    WITH spans AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) + 1 AS hi
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT user_id, day, lo AS us, 1 AS delta FROM spans
      UNION ALL
      SELECT user_id, day, hi AS us, -1 AS delta FROM spans
    ),
    c AS (
      SELECT day, us, delta,
        SUM(delta) OVER (
          PARTITION BY day ORDER BY us, delta DESC, user_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM b
    )
    SELECT day,
      CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_users,
      CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM c GROUP BY 1
    """,
)
def ext_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent active users per day by sweep line: each
    user's daily activity span [first event, last event] becomes a
    +1 boundary at its start and a -1 just past its end; the running
    sum over boundaries ordered by time is the instantaneous
    concurrency, and its max is the day's peak — the capacity-
    planning number a max-overlap interval query answers without
    ever joining intervals pairwise (O(n log n), not O(n^2)).

    Determinism: the boundary order is total (time, +1 before -1 at
    the same instant, user tiebreak), and the running-sum max is
    invariant under any reordering within equal (time, delta) keys.
    Scale shape: span extraction is one groupBy; the sweep is a
    window PARTITIONED BY day — the sweep line is inherently
    sequential per partition, so the partition key chooses the
    parallelism/granularity tradeoff (finer keys (hour) bound the
    frame at higher volume; the merge across boundaries then adds a
    per-key offset pass, same trick as operators/ranking.py).
    """
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("lo"),
        (F.unix_micros(F.max("ts").cast("timestamp")) + 1).alias("hi"),
    )
    b = spans.select(
        "user_id", "day", F.col("lo").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            "user_id", "day", F.col("hi").alias("us"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("us"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = b.select("day", "delta", F.sum("delta").over(w).alias("conc"))
    return c.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
        F.max("conc").cast("long").alias("peak_concurrency"),
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert distribution
# ---------------------------------------------------------------------------


@query(
    "ext_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT user_id, MIN(ts) AS first_purchase FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    c AS (
      SELECT v.user_id, CAST(date_trunc('day', first_view) AS DATE) AS cohort_day,
        (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000 AS lag_sec
      FROM v JOIN p ON v.user_id = p.user_id
      WHERE first_purchase >= first_view
    )
    SELECT cohort_day,
      CAST(COUNT(*) AS BIGINT) AS n_converted,
      quantile_cont(lag_sec, 0.5) AS p50_sec,
      quantile_cont(lag_sec, 0.9) AS p90_sec,
      CAST(MAX(lag_sec) AS BIGINT) AS max_sec
    FROM c GROUP BY 1
    """,
)
def ext_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    purchase follows their first view, the view→purchase lag in
    seconds, rolled up by first-view cohort day with exact p50/p90 —
    the funnel-velocity metric behind "how long does conversion
    take", computed from two staged MIN aggregations instead of a
    pairwise event join.

    Scale shape: two per-user MIN aggregations (one scan each with
    map-side partials), a user-key equi-join of the two user-sized
    relations, then a cohort-day rollup whose exact percentiles use
    the percentile == quantile_cont parity. No window over raw
    events, no interval self-join.
    """
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    p = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("first_purchase")
    )
    c = (
        v.join(p, ["user_id"])
        .filter(F.col("first_purchase") >= F.col("first_view"))
        .select(
            F.to_date("first_view").alias("cohort_day"),
            # exact BIGINT DIV, not double division + cast: a double
            # quotient can round up across the integer boundary where
            # the oracle's integer // truncates
            (
                F.unix_micros(F.col("first_purchase").cast("timestamp"))
                - F.unix_micros(F.col("first_view").cast("timestamp"))
            ).alias("lag_us"),
        )
        .select(
            "cohort_day",
            F.expr("lag_us DIV 1000000L").alias("lag_sec"),
        )
    )
    return c.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.expr("percentile(lag_sec, 0.5D)").alias("p50_sec"),
        F.expr("percentile(lag_sec, 0.9D)").alias("p90_sec"),
        F.max("lag_sec").cast("long").alias("max_sec"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust statistics per group
# ---------------------------------------------------------------------------


@query(
    "ext_winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority,
        quantile_cont(o_totalprice, 0.05) AS p05,
        quantile_cont(o_totalprice, 0.95) AS p95
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(FLOOR(
        LEAST(GREATEST(o.o_totalprice, b.p05), b.p95) * 1000000.0
      ) AS BIGINT)) AS BIGINT) AS winsorized_sum_micros,
      CAST(SUM(CAST(FLOOR(
        LEAST(GREATEST(o.o_totalprice, b.p05), b.p95) * 1000000.0
      ) AS BIGINT)) // COUNT(*) AS BIGINT) AS winsorized_mean_micros,
      CAST(SUM(CASE WHEN o.o_totalprice < b.p05 OR o.o_totalprice > b.p95
               THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders o JOIN b USING (o_orderpriority)
    GROUP BY 1
    """,
)
def ext_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clamped) group means: order totals clipped
    to each priority class's exact [p05, p95] band before averaging —
    the robust-mean alternative to dropping outliers (ext_outlier_iqr
    flags them; this bounds their influence and keeps the rows).

    Determinism: the clamp bounds are exact interpolated percentiles
    (deterministic doubles, identical in both engines); each clamped
    value is floored to integer micro-units — the SAME double product
    in both engines, so the floor agrees bit-for-bit even on inexact
    binary representations — and the group mean is pure BIGINT
    sum-and-divide, order-independent.

    Scale shape: pass 1 computes the per-group percentile bounds
    (|groups| rows, map-side partials); pass 2 re-scans with the
    bounds joined BROADCAST and aggregates clamped micros — two scans
    total, the unavoidable minimum for data-dependent clamp bounds.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    b = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.05D)").alias("p05"),
        F.expr("percentile(o_totalprice, 0.95D)").alias("p95"),
    )
    clamped_micros = F.floor(
        F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
        * F.lit(1_000_000.0)
    ).cast("long")
    return (
        o.join(F.broadcast(b), ["o_orderpriority"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(clamped_micros).cast("long").alias("winsorized_sum_micros"),
            F.expr(
                "CAST(sum(CAST(FLOOR(LEAST(GREATEST(o_totalprice, p05), p95)"
                " * 1000000.0D) AS BIGINT)) DIV count(1) AS BIGINT)"
            ).alias("winsorized_mean_micros"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("p05"))
                    | (F.col("o_totalprice") > F.col("p95")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_clamped"),
        )
    )


# ---------------------------------------------------------------------------
# Time-decayed lifetime value
# ---------------------------------------------------------------------------


@query(
    "ext_time_decayed_ltv",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
    w AS (
      SELECT o_custkey AS custkey,
        CAST(CAST(o_totalprice AS DECIMAL(30,6)) * 100 AS BIGINT) AS cents,
        CAST(FLOOR(exp(-date_diff('day', CAST(o_orderdate AS DATE),
                                  (SELECT as_of FROM mx)) / 365.0)
                   * 10000) AS BIGINT) AS w_e4
      FROM orders
    )
    SELECT custkey,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(cents) AS BIGINT) AS raw_cents,
      CAST(SUM(cents * w_e4) AS BIGINT) AS decayed_cents_e4,
      CAST(SUM(cents * w_e4) // 10000 AS BIGINT) AS decayed_cents
    FROM w GROUP BY 1
    """,
)
def ext_time_decayed_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed customer lifetime value: each
    order's spend is weighted by exp(-age/365d) as of the newest
    order date, so a dollar spent a year ago counts ~0.37x — the
    recency-weighted LTV that ranks "valuable now" rather than
    "valuable ever" (complements ext_rfm_segmentation's discrete
    recency tile with a continuous decay).

    Determinism: money enters as exact integer cents via the proven
    DECIMAL(30,6) route; each order's decay weight is exp() on an
    identical double in both engines floored ONCE to 1e-4 units;
    the per-customer rollup is then pure BIGINT cents x weight sums —
    order-independent (same floored-transcendental caveat as
    ext_lm_perplexity). Magnitudes: max cents ~5.5e7 x 1e4 x ~40
    orders ~ 2e13, far inside BIGINT.

    Scale shape: one map-side weight projection off a broadcast
    as-of scalar, one customer-key aggregation. Nothing else.
    """
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("as_of"))
    w = o.crossJoin(F.broadcast(mx)).select(
        F.col("o_custkey").alias("custkey"),
        (F.col("o_totalprice").cast("decimal(30,6)") * 100)
        .cast("long")
        .alias("cents"),
        F.floor(
            F.exp(
                -F.datediff("as_of", F.to_date("o_orderdate")) / F.lit(365.0)
            )
            * 10_000
        ).cast("long").alias("w_e4"),
    )
    return w.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum(F.col("cents") * F.col("w_e4")).cast("long").alias(
            "decayed_cents_e4"
        ),
        F.expr("sum(cents * w_e4) DIV 10000L").alias("decayed_cents"),
    )
