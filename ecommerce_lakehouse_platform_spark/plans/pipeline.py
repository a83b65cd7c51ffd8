"""End-to-end medallion pipeline: bronze → silver → gold → DQ gate.

The reference's macro-lifecycle (README.md:26-33 there): idempotent
full-overwrite materialization between layers, fail-fast DQ gate
before any BI query runs, re-runnable in order.

Each silver/gold fact table declares its date column. The table is
written with no partition directories and its rows sorted by that date
within each file, so the dashboard BETWEEN predicates prune on file
and row-group min/max statistics instead of paying one file per date
(the trade :mod:`..sources.writers` explains).

The refresh pays once per table: each write reports its own row count
(an ``Observation`` on the written frame; for ``minidelta`` the
commit's ``numRecords``), and each table is read back with the schema
its write just produced, so no count scan and no schema-inference job
runs after the writes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dq import CheckResult, expect
from ..sources.catalog import load_table
from ..sources.deltalog import MiniDeltaTable

# table_counts stays importable from here, next to the writer and
# reader this module resolves by name
from ..sources.writers import (  # noqa: F401
    read_table,
    table_counts,
    write_table,
)
from . import gold, silver


@dataclass
class PipelineResult:
    silver_counts: dict[str, int] = field(default_factory=dict)
    gold_counts: dict[str, int] = field(default_factory=dict)
    dq_results: list[CheckResult] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    raise_on_dq_failure: bool = True,
    table_format: str | None = None,
) -> PipelineResult:
    """Materialize every layer under ``warehouse`` and gate on DQ.

    Bronze is the fixture parquet itself (already columnar); silver
    and gold are written out, each fact table sorted by its date
    column within each file.

    ``table_format="minidelta"`` materializes every layer as a
    Delta-protocol-logged table (sources/deltalog/) instead of raw
    parquet — versioned overwrites, time travel, and CDF on the
    pipeline outputs, which is the reference's managed-Delta
    deployment shape (02_silver_transform.py:29-37).
    """
    result = PipelineResult()

    def materialize(
        layer: str, tables: dict[str, tuple[DataFrame, str | None]]
    ) -> tuple[dict[str, DataFrame], dict[str, int]]:
        """Write each ``name -> (frame, date column)`` under
        ``warehouse/layer``; return the tables read back with the
        schema just written, and the rows each write wrote."""
        frames, counts = {}, {}
        for name, (df, date_col) in tables.items():
            path = f"{warehouse}/{layer}/{name}"
            if date_col is not None:
                df = df.sortWithinPartitions(date_col)
            if table_format == "minidelta":
                version = write_table(df, path, fmt=table_format)
                counts[name] = MiniDeltaTable(spark, path).rows_added(version)
            else:
                rows = Observation()
                df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
                write_table(df, path, fmt=table_format)
                counts[name] = rows.get["rows"]
            frames[name] = read_table(
                spark, path, fmt=table_format, schema=df.schema
            )
        return frames, counts

    # --- silver ---------------------------------------------------
    customers = silver.silver_customers(load_table(spark, sf_dir, "customer"))
    orders = silver.silver_orders(load_table(spark, sf_dir, "orders"))
    items = silver.silver_order_items(load_table(spark, sf_dir, "lineitem"), orders)
    events = silver.silver_events(load_table(spark, sf_dir, "events"))
    products = silver.silver_products(load_table(spark, sf_dir, "part"))

    silver_tables, result.silver_counts = materialize(
        "silver",
        {
            "customers": (customers, None),
            "orders": (orders, "order_date"),
            "order_items": (items, "order_date"),
            "events": (events, "event_date"),
            "products": (products, None),
        },
    )

    # --- gold (reads the materialized silver, like the reference) --
    g_daily = gold.gold_daily_metrics(silver_tables["events"], silver_tables["orders"])
    g_products = gold.gold_product_metrics(
        silver_tables["order_items"], silver_tables["products"]
    )
    g_funnel = gold.gold_product_funnel(silver_tables["events"])
    g_sessions = gold.gold_session_metrics(
        silver_tables["events"], silver_tables["customers"]
    )
    g_c360 = gold.gold_customer_360(
        silver_tables["customers"], silver_tables["orders"]
    )

    gold_tables, result.gold_counts = materialize(
        "gold",
        {
            "daily_metrics": (g_daily, "event_date"),
            "product_metrics": (g_products, None),
            "product_funnel": (g_funnel, "event_date"),
            "session_metrics": (g_sessions, None),
            "customer_360": (g_c360, None),
        },
    )

    # --- DQ gate (the reference's four invariants over OUR gold) ---
    pm, c360 = gold_tables["product_metrics"], gold_tables["customer_360"]
    sm, pf = gold_tables["session_metrics"], gold_tables["product_funnel"]
    checks = [
        (pm, "gold_product_integrity",
         F.col("product_name").isNull() | F.col("category").isNull()),
        (
            c360.groupBy("customer_id").count().withColumnRenamed("count", "n"),
            "customer_360_pk_unique",
            F.col("n") > 1,
        ),
        (sm, "non_negative_session_values",
         (F.col("session_duration_sec") < 0) | (F.col("session_revenue") < 0)),
        (pf, "funnel_rates_bounded",
         (F.col("view_to_cart_pct") > 100) | (F.col("cart_to_purchase_pct") > 100)),
    ]
    for df, name, pred in checks:
        result.dq_results.append(
            expect(df, name, pred, raise_on_failure=raise_on_dq_failure)
        )
    return result
