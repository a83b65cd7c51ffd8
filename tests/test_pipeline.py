"""End-to-end medallion pipeline: materialization, the date-sorted
layout, partition pruning, DQ gate, CSV bronze ingest."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark.plans import silver
from ecommerce_lakehouse_platform_spark.plans.pipeline import run_pipeline
from ecommerce_lakehouse_platform_spark.sources.catalog import load_table
from ecommerce_lakehouse_platform_spark.sources.csv import ingest_bronze
from ecommerce_lakehouse_platform_spark.sources.writers import (
    read_table,
    write_table,
)

from .conftest import SF_SMOKE

# every table run_pipeline writes -> its declared date column
TABLES = {
    "silver/customers": None,
    "silver/orders": "order_date",
    "silver/order_items": "order_date",
    "silver/events": "event_date",
    "silver/products": None,
    "gold/daily_metrics": "event_date",
    "gold/product_metrics": None,
    "gold/product_funnel": "event_date",
    "gold/session_metrics": None,
    "gold/customer_360": None,
}


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        if "_delta_log" not in root
        for n in names
        if n.endswith(".parquet")
    )


def _assert_smoke_layout(spark, warehouse, result, table_format=None):
    """Every table is written without partition directories, each file
    sorted by the table's date, and each reported count equals a count
    of the table."""
    counts = {
        **{f"silver/{k}": v for k, v in result.silver_counts.items()},
        **{f"gold/{k}": v for k, v in result.gold_counts.items()},
    }
    assert set(counts) == set(TABLES)
    for table, date_col in TABLES.items():
        path = f"{warehouse}/{table}"
        assert not [
            d for d in os.listdir(path) if "=" in d
        ], f"{table} has partition directories"
        files = _data_files(path)
        assert files, table
        if date_col is not None:
            for f in files:
                dates = pq.read_table(f, columns=[date_col]).column(0).to_pylist()
                assert dates == sorted(dates), f"{f} is not sorted by {date_col}"
        assert counts[table] == read_table(spark, path, fmt=table_format).count(), table


def _files_read(df) -> int:
    """Collect ``df`` and return its file scans' "number of files read"."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).nodeName().startswith("Scan")
    ]
    assert scans, plan.toString()
    return sum(s.metrics().apply("numFiles").value() for s in scans)


def test_pipeline_end_to_end(spark):
    warehouse = tempfile.mkdtemp(prefix="warehouse_")
    try:
        result = run_pipeline(spark, SF_SMOKE, warehouse)
        assert result.silver_counts["orders"] == 1500
        assert result.silver_counts["order_items"] == 6000
        assert result.gold_counts["customer_360"] == 150
        assert all(r.passed for r in result.dq_results), result.dq_results
        _assert_smoke_layout(spark, warehouse, result)
        # rerun is idempotent (full overwrite)
        again = run_pipeline(spark, SF_SMOKE, warehouse)
        assert again.silver_counts == result.silver_counts
        assert again.gold_counts == result.gold_counts
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


@pytest.mark.parametrize("table_format", [None, "minidelta"])
def test_explicit_partition_by_prunes_a_day(spark, table_format):
    """``write_table``'s explicit ``partition_by`` still writes one
    directory per date on both sinks, and a one-day window over the
    table then reads fewer files than the table lists. The minidelta
    sink returns the version it committed, the parquet sink None."""
    events = silver.silver_events(load_table(spark, SF_SMOKE, "events"))
    warehouse = tempfile.mkdtemp(prefix="layout_")
    try:
        path = f"{warehouse}/events"
        version = write_table(
            events, path, partition_by="event_date", fmt=table_format
        )
        assert version == (0 if table_format == "minidelta" else None)
        assert [d for d in os.listdir(path) if d.startswith("event_date=")]
        table = read_table(spark, path, fmt=table_format)
        day = table.select(F.min("event_date")).first()[0]
        window = table.filter(F.col("event_date") == day)
        listed = len(_data_files(path))
        assert 0 < _files_read(window) < listed
        assert window.count() == events.filter(F.col("event_date") == day).count()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def test_partition_pruning_fires(spark):
    warehouse = tempfile.mkdtemp(prefix="prune_")
    try:
        ev = spark.range(0, 100).select(
            F.col("id").alias("event_id"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 10).cast("int")).alias(
                "event_date"
            ),
        )
        write_table(ev, f"{warehouse}/events", partition_by="event_date")
        got = spark.read.parquet(f"{warehouse}/events").filter(
            F.col("event_date") == "2024-01-03"
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        # partition filter present and only one of ten partitions read
        assert got.count() == 10
        assert "event_date" in plan
        scan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in scan or "partition" in scan.lower()
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def test_dynamic_partition_pruning_fires(spark):
    """DPP: a selective dim filter joined on the fact's PARTITION
    column must inject a runtime pruning subquery into the fact scan
    (SURVEY.md §4 'partition pruning: static + dynamic') — at 100 TB
    this is the difference between scanning one date and all of them
    when the date list only becomes known at runtime."""
    warehouse = tempfile.mkdtemp(prefix="dpp_")
    try:
        fact = spark.range(0, 1000).select(
            F.col("id").alias("event_id"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("id") % 10).cast("int")
            ).alias("event_date"),
        )
        write_table(fact, f"{warehouse}/fact", partition_by="event_date")
        dim = spark.range(0, 10).select(
            F.date_add(
                F.lit("2024-01-01").cast("date"), F.col("id").cast("int")
            ).alias("event_date"),
            F.col("id").cast("int").alias("cat"),
        )
        write_table(dim, f"{warehouse}/dim")
        f = spark.read.parquet(f"{warehouse}/fact")
        # NOTE: the dim predicate must be one Spark's isLikelySelective
        # heuristic recognizes (equality/IN/LIKE on a literal) — a bare
        # boolean attribute filter silently disables DPP.
        d = spark.read.parquet(f"{warehouse}/dim").filter("cat = 3")
        joined = f.join(d, "event_date")
        assert joined.count() == 100
        plan = joined._jdf.queryExecution().sparkPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def test_csv_bronze_ingest(spark):
    tmp = tempfile.mkdtemp(prefix="csv_")
    try:
        with open(f"{tmp}/customers.csv", "w") as f:
            f.write("customer_id,name,age\n1050.0,  Alice ,34\nxyz,Bob,41\n")
        written = {}
        counts = ingest_bronze(
            spark,
            {"customers": (f"{tmp}/customers.csv", "customer_id STRING, name STRING, age INT")},
            write_fn=lambda df, name: written.setdefault(name, df),
        )
        assert counts == {"customers": 2}
        rows = written["customers"].collect()
        assert {r.customer_id for r in rows} == {"1050.0", "xyz"}
        assert all(r._source_file == "customers.csv" for r in rows)
        assert all(r._ingest_ts is not None for r in rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sql_workspace_three_layers(spark):
    from ecommerce_lakehouse_platform_spark.sources.catalog import (
        register_sql_workspace,
    )

    views = register_sql_workspace(spark, SF_SMOKE)
    assert {"lineitem", "silver_order_items", "gold_customer_360"} <= set(views)
    # all three layers answer plain SQL, and layers compose
    n_bad = spark.sql(
        "SELECT COUNT(*) AS n FROM silver_order_items WHERE quantity <= 0"
    ).first().n
    assert n_bad == 0
    tiers = spark.sql(
        "SELECT COUNT(DISTINCT customer_tier) AS n FROM gold_customer_360"
    ).first().n
    assert tiers >= 2


def test_pipeline_minidelta_mode(spark):
    """table_format='minidelta' materializes every layer through the
    Delta-protocol log: same counts and DQ result as the parquet run,
    versioned overwrites on rerun, and time travel to the pre-rerun
    snapshot of a silver table — the reference's managed-Delta
    deployment shape (02_silver_transform.py:29-37) running on the
    in-repo log."""
    from ecommerce_lakehouse_platform_spark.sources.deltalog import (
        MiniDeltaTable,
    )

    warehouse = tempfile.mkdtemp(prefix="warehouse_md_")
    try:
        result = run_pipeline(
            spark, SF_SMOKE, warehouse, table_format="minidelta"
        )
        assert result.silver_counts["orders"] == 1500
        assert result.gold_counts["customer_360"] == 150
        assert all(r.passed for r in result.dq_results), result.dq_results
        _assert_smoke_layout(spark, warehouse, result, "minidelta")
        orders_tbl = MiniDeltaTable(spark, f"{warehouse}/silver/orders")
        assert orders_tbl.snapshot().version == 0
        assert orders_tbl.snapshot().partition_columns == []
        # rerun commits NEW versions (the overwrite is logged, not a
        # directory clobber) and stays idempotent
        again = run_pipeline(
            spark, SF_SMOKE, warehouse, table_format="minidelta"
        )
        assert again.silver_counts == result.silver_counts
        assert orders_tbl.snapshot().version == 1
        # time travel to the pre-rerun materialization still works
        assert orders_tbl.read(version=0).count() == 1500
    finally:
        shutil.rmtree(warehouse, ignore_errors=True)


def test_managed_namespace_round_trip(spark):
    """The reference's ecom_catalog.{bronze,silver,gold} layering as
    REAL session-catalog databases: managed saveAsTable writes for all
    three layers, SHOW TABLES IN enumeration, two-part-name reads, and
    idempotent overwrite rerun — the metastore round-trip the temp-view
    workspace doesn't exercise (01_bronze_ingest.py:32-34,43)."""
    from ecommerce_lakehouse_platform_spark.sources.catalog import (
        register_managed_namespace,
    )
    from ecommerce_lakehouse_platform_spark.sources.writers import list_tables

    prefix = "ecomtest"
    try:
        listing = register_managed_namespace(spark, SF_SMOKE, prefix=prefix)
        assert listing[f"{prefix}_bronze"] == sorted(
            ["customer", "orders", "lineitem", "events", "part"]
        )
        assert "order_items" in listing[f"{prefix}_silver"]
        assert "customer_360" in listing[f"{prefix}_gold"]
        # two-part-name reads answer plain SQL over managed tables
        n = spark.sql(
            f"SELECT COUNT(*) AS n FROM {prefix}_silver.orders"
        ).first().n
        assert n == 1500
        tiers = spark.sql(
            "SELECT COUNT(DISTINCT customer_tier) AS n "
            f"FROM {prefix}_gold.customer_360"
        ).first().n
        assert tiers >= 2
        # layers compose across databases in one query
        joined = spark.sql(
            f"""SELECT COUNT(*) AS n
            FROM {prefix}_silver.orders o
            JOIN {prefix}_gold.customer_360 c USING (customer_id)"""
        ).first().n
        assert joined > 0
        # rerun is an idempotent managed overwrite, not a failure
        again = register_managed_namespace(spark, SF_SMOKE, prefix=prefix)
        assert again == listing
        assert spark.sql(
            f"SELECT COUNT(*) AS n FROM {prefix}_silver.orders"
        ).first().n == 1500
    finally:
        for db in (f"{prefix}_bronze", f"{prefix}_silver", f"{prefix}_gold"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
